package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator is a pure function of
  * (seed, its arguments): the same seed gives the same rows, a different
  * seed changes the values but never the sizes or shapes, so the amount of
  * work a run does is the same for every seed. */
object Gen {

  /** Independent stream per (seed, salt). */
  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  /** Seeded Fisher-Yates permutation. */
  def shuffle[T](seed: Long, salt: String, xs: Seq[T]): Seq[T] = {
    val r = rng(seed, salt)
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T =
    xs(r.nextInt(xs.size))

  /** Uniform double in [lo, hi) rounded to `dp` decimals. */
  private def dbl(r: SplittableRandom, lo: Double, hi: Double, dp: Int): Double = {
    val s = math.pow(10, dp)
    math.round((lo + r.nextDouble() * (hi - lo)) * s) / s
  }

  // ---- reference-sized tables (FIXTURES.md schemas and row counts) -------

  final case class Table(name: String, schema: StructType, rows: Seq[Row]) {
    def df(spark: SparkSession): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def schema(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t, nullable = false) })

  val months: IndexedSeq[String] = IndexedSeq("jan", "feb", "mar", "apr",
    "may", "jun", "jul", "aug", "sep", "oct", "nov", "dec")
  val days: IndexedSeq[String] =
    IndexedSeq("mon", "tue", "wed", "thu", "fri", "sat", "sun")
  private val attributes = IndexedSeq("Fire", "Water", "Plant", "Electric",
    "Earth", "Wind", "Light", "Dark", "Neutral")
  private val words = IndexedSeq("strike", "blast", "guard", "heal", "burst",
    "claw", "wave", "storm", "shield", "drain", "flame", "frost")

  def forestFires(seed: Long, n: Int = 518): Table = {
    val r = rng(seed, "forest_fires")
    val rows = (0 until n).map { _ =>
      val rain = if (r.nextInt(10) == 0) dbl(r, 0.1, 6.4, 1) else 0.0
      val area = if (r.nextInt(2) == 0) dbl(r, 0.01, 1090.0, 2) else 0.0
      Row(1L + r.nextInt(9), 2L + r.nextInt(8), pick(r, months), pick(r, days),
        dbl(r, 18.7, 96.2, 1), dbl(r, 1.1, 291.3, 2), dbl(r, 7.9, 860.6, 3),
        dbl(r, 0.0, 56.1, 1), dbl(r, 2.2, 33.3, 1), 15L + r.nextInt(86),
        dbl(r, 0.4, 9.4, 1), rain, area)
    }
    Table("forest_fires", schema("X" -> LongType, "Y" -> LongType,
      "month" -> StringType, "day" -> StringType, "FFMC" -> DoubleType,
      "DMC" -> DoubleType, "DC" -> DoubleType, "ISI" -> DoubleType,
      "temp" -> DoubleType, "RH" -> LongType, "wind" -> DoubleType,
      "rain" -> DoubleType, "area" -> DoubleType), rows)
  }

  def digimonMonList(seed: Long, n: Int = 249): Table = {
    val r = rng(seed, "digimon_mon_list")
    val stages = IndexedSeq("Baby", "In-Training", "Rookie", "Champion",
      "Ultimate", "Mega", "Ultra", "Armor")
    val types = IndexedSeq("Free", "Vaccine", "Virus", "Data")
    val rows = (1 to n).map { i =>
      val attr = pick(r, attributes)
      Row(i.toLong, s"Mon$i", pick(r, stages), pick(r, types), attr,
        2L + r.nextInt(24), r.nextInt(4).toLong, 500L + r.nextInt(1500),
        50L + r.nextInt(250), 50L + r.nextInt(250), 50L + r.nextInt(250),
        50L + r.nextInt(250), 50L + r.nextInt(250), attr)
    }
    Table("digimon_mon_list", schema("Number" -> LongType,
      "Digimon" -> StringType, "Stage" -> StringType, "Type" -> StringType,
      "Attribute" -> StringType, "Memory" -> LongType,
      "Equip Slots" -> LongType, "Lv 50 HP" -> LongType,
      "Lv50 SP" -> LongType, "Lv50 Atk" -> LongType, "Lv50 Def" -> LongType,
      "Lv50 Int" -> LongType, "Lv50 Spd" -> LongType,
      "mon_attribute" -> StringType), rows)
  }

  def digimonMoveList(seed: Long, n: Int = 387): Table = {
    val r = rng(seed, "digimon_move_list")
    val types = IndexedSeq("Physical", "Magic", "Support", "Heal")
    val rows = (1 to n).map { i =>
      val attr = pick(r, attributes)
      val desc = (0 until 3 + r.nextInt(6)).map(_ => pick(r, words))
        .mkString(" ") + ", " + pick(r, words) + " power"
      Row(s"Move $i", 3L + r.nextInt(98), pick(r, types), r.nextInt(301).toLong,
        attr, if (r.nextBoolean()) "Yes" else "No", desc, attr)
    }
    Table("digimon_move_list", schema("Move" -> StringType,
      "SP Cost" -> LongType, "Type" -> StringType, "Power" -> LongType,
      "Attribute" -> StringType, "Inheritable" -> StringType,
      "Description" -> StringType, "move_attribute" -> StringType), rows)
  }

  def avocado(seed: Long, n: Int = 50): Table = {
    val r = rng(seed, "avocado")
    val regions = IndexedSeq("Albany", "Atlanta", "Boise", "Boston",
      "Chicago", "Denver", "Detroit", "Houston")
    val rows = (0 until n).map { i =>
      val year = 2015L + r.nextInt(4)
      val date = f"$year%d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
      val small = dbl(r, 1000, 90000, 2)
      val large = dbl(r, 10, 9000, 2)
      val xl = dbl(r, 0, 200, 2)
      Row(i.toLong, date, dbl(r, 0.44, 3.25, 2), dbl(r, 1000, 900000, 2),
        dbl(r, 100, 400000, 2), dbl(r, 100, 400000, 2), dbl(r, 0, 20000, 2),
        small + large + xl, small, large, xl,
        if (r.nextBoolean()) "conventional" else "organic", year,
        pick(r, regions))
    }
    Table("avocado", schema("avocado_id" -> LongType, "Date" -> StringType,
      "AveragePrice" -> DoubleType, "Total Volume" -> DoubleType,
      "4046" -> DoubleType, "4225" -> DoubleType, "4770" -> DoubleType,
      "Total Bags" -> DoubleType, "Small Bags" -> DoubleType,
      "Large Bags" -> DoubleType, "XLarge Bags" -> DoubleType,
      "type" -> StringType, "year" -> LongType, "region" -> StringType), rows)
  }

  def referenceTables(seed: Long): Seq[Table] = Seq(forestFires(seed),
    digimonMonList(seed), digimonMoveList(seed), avocado(seed))

  /** Fresh rows for one re-registration in a chain: (k, grp, v). */
  def chainRows(seed: Long, chain: Long, n: Int = 200): Table = {
    val r = rng(seed, s"chain$chain")
    val rows = (0 until n).map(i =>
      Row(i.toLong, s"g${r.nextInt(12)}", dbl(r, 0, 1000, 2)))
    Table("chain_src", schema("k" -> LongType, "grp" -> StringType,
      "v" -> DoubleType), rows)
  }

  // ---- stream arrivals ----------------------------------------------------

  /** One arriving document and what the generator made it as. */
  final case class Arrival(doc_id: Long, text: String)

  /** Kinds of arrival, in the seeded mix. */
  val Novel = "novel"
  val Repost = "repost"
  val NearDup = "near_dup"
  val LowQuality = "low_quality"

  /** Words for novel arrivals: a vocabulary large enough that two novel
    * documents share almost no word bigrams, so a novel arrival is never a
    * near-duplicate by accident. */
  private def novelText(r: SplittableRandom): String =
    (0 until 20 + r.nextInt(40)).map(_ => s"w${r.nextInt(5000)}").mkString(" ")

  /** `nBatches` batches of `perBatch` arrivals with ids from `firstId`. The
    * mix per batch is seeded: about half novel documents, and the rest
    * exact re-posts, one-word near-dup edits (of the corpus or of earlier
    * arrivals) and low-quality spam. */
  def arrivals(seed: Long, corpus: IndexedSeq[String], nBatches: Int,
      perBatch: Int, firstId: Long): IndexedSeq[IndexedSeq[(Arrival, String)]] = {
    val r = rng(seed, "arrivals")
    var next = firstId
    val seen = scala.collection.mutable.ArrayBuffer[String](corpus: _*)
    (0 until nBatches).map { _ =>
      (0 until perBatch).map { _ =>
        val roll = r.nextInt(20)
        val (text, kind) =
          if (roll < 10) (novelText(r), Novel)
          else if (roll < 14) (seen(r.nextInt(seen.size)), Repost)
          else if (roll < 18) {
            val ws = seen(r.nextInt(seen.size)).split(" ")
            ws(ws.length - 1) = s"edit${r.nextInt(1000)}"
            (ws.mkString(" "), NearDup)
          } else (Seq.fill(20)("spam").mkString(" "), LowQuality)
        if (kind == Novel) seen += text
        val a = Arrival(next, text)
        next += 1
        (a, kind)
      }
    }
  }
}
