package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source ingestion mirroring the reference's table-arrival path (reference
  * `dataframe_sql/tests/utils.py:11-19`: `pandas.read_csv` with header +
  * inferred dtypes) plus the formats a Spark pipeline actually uses.
  * Everything returns a lazy DataFrame ready for `Engine.registerTempTable`;
  * scans stay pushdown/prune-capable.
  *
  * At scale: prefer parquet (self-describing, splittable, column-pruned).
  * For CSV/JSON give an explicit schema when possible — `inferSchema` costs
  * an extra full read of the input, which is fine at test scale and wrong at
  * 100 TB.
  */
object Ingest {

  /** Header + inferred dtypes, like the reference's read_csv. */
  def csv(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", "true")
    schema match {
      case Some(s) => r.schema(s).csv(path)
      case None => r.option("inferSchema", "true").csv(path)
    }
  }

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def json(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).json(path)
      case None => spark.read.json(path)
    }

  /** ORC — the other columnar format Spark ships a vectorized,
    * predicate-pushdown reader for; same pruning/pushdown properties as
    * parquet, for lakes that standardized on it. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Raw text, one row per LINE (`value` string) — the ingestion shape for
    * line-delimited corpora (one document per line). Splittable, so a
    * single 100 GB file still fans out across executors. */
  def textLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Raw text, one row per FILE (`doc_path`, `text`) — the ingestion shape
    * for file-per-document corpora. NOT splittable (each file is one
    * record): right for many small-to-medium documents, wrong for one
    * giant file — use [[textLines]] there. */
  def textFiles(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("doc_path"), col("value").as("text"))
  }

  /** Opaque binary payloads — (`path`, `modificationTime`, `length`,
    * `content: binary`), the multimodal ingestion shape the m-series
    * codecs ([[graft.operators.Multimodal]]) consume. `glob` filters at
    * the LISTING (files never opened), and `maxBytes` guards executor
    * memory: binaryFile materializes each file as ONE row, so cap it at
    * what a task can hold and route larger payloads to a chunked path. */
  def binaryFiles(spark: SparkSession, path: String,
      glob: Option[String] = None,
      maxBytes: Option[Long] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    val g = glob.fold(r)(p => r.option("pathGlobFilter", p))
    val df = g.load(path)
    maxBytes.fold(df)(b =>
      df.where(org.apache.spark.sql.functions.col("length") <= b))
  }

  // ───────────── corrupt-record quarantine ────────────────────────────────
  // A real 100 TB crawl ingest hits malformed UTF-8, truncated files and
  // bad JSON before it hits anything else. The quarantined readers apply
  // the multimodal codecs' poison policy ("poison costs one row, never the
  // task", graft.operators.Multimodal) to the text/structured formats:
  // every input row either parses clean into `good` or lands in `bad` as
  // (src_file, raw) — counted and inspectable, no task failure, no silent
  // propagation of half-parsed garbage into the pipeline.

  /** A quarantined ingest: `good` rows parsed clean; `bad` holds one row
    * per malformed input row — `(src_file, raw)` — instead of a task
    * failure or a silently null-filled record. */
  final case class Quarantined(good: DataFrame, bad: DataFrame) {
    /** Quarantined-row count — the ingest health number an operator
      * alerts on. */
    def badCount(): Long = bad.count()
  }

  private val CorruptCol = "_graft_corrupt"

  /** Raw splittable line view shared by the quarantined readers:
    * (src_file, value). `ignoreCorruptFiles` keeps a truncated compressed
    * file from failing the task — the decodable prefix ingests, the rest
    * of that file is skipped (file-level poison downgrades to partial
    * data, never a dead job). */
  private def rawLines(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    spark.read.option("ignoreCorruptFiles", "true").text(path)
      .select(input_file_name().as("src_file"), col("value"))
  }

  /** CSV with a row-level quarantine: lines that fail the schema (wrong
    * column count, unparseable type) land in `bad` with their source
    * file. Parsing runs through `from_csv` with an explicit
    * corrupt-record column — per ROW, so one poisoned line never fails
    * its task and never silently becomes a null-filled record.
    *
    * Header rule (`header = true`): lines byte-equal to the schema's
    * header signature (`fieldNames.mkString(",")`) are headers; exactly
    * ONE per source file is dropped silently, and every SURPLUS
    * occurrence — a data row that happens to equal the signature, or a
    * concatenated file carrying repeated headers — is QUARANTINED into
    * `bad` instead of vanishing (silent row loss is the one failure mode
    * a quarantine exists to prevent). Quoted or re-ordered header lines
    * are out of contract (use an explicit-schema [[csv]] read for exotic
    * headers).
    *
    * Record-shape contract: the splittable line view parses one RECORD
    * per LINE. A quoted field containing a literal newline (RFC-4180
    * multi-line records) is split across lines and BOTH halves land in
    * `bad` — multi-line records are out of contract here (counted, never
    * silent); parse such inputs with Spark's `multiLine` CSV reader,
    * which gives up splittability and per-row poison granularity for
    * them. */
  def csvQuarantined(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): Quarantined = {
    import org.apache.spark.sql.functions._
    require(!schema.fieldNames.contains(CorruptCol),
      s"schema may not contain reserved column $CorruptCol")
    val withCorrupt = schema.add(CorruptCol,
      org.apache.spark.sql.types.StringType)
    val headerSig = schema.fieldNames.mkString(",")
    val raw0 = rawLines(spark, path)
    val raw = if (header) raw0.where(col("value") =!= headerSig) else raw0
    val parsed = raw.withColumn("p", from_csv(col("value"),
      withCorrupt, Map("mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> CorruptCol)))
    val q = splitQuarantine(parsed, schema)
    if (!header) q
    else {
      // Surplus header-signature lines (count − 1 per file): which
      // physical line was "the header" is unknowable in a splittable
      // read and irrelevant — the lines are byte-identical — but their
      // COUNT is data loss if unreported, so the surplus copies
      // quarantine.
      val surplus = raw0.where(col("value") === headerSig)
        .groupBy("src_file").agg(count(lit(1)).as("n"))
        .where(col("n") > 1L)
        .select(col("src_file"),
          explode(sequence(lit(2L), col("n"))).as("i"))
        .select(col("src_file"), lit(headerSig).as("raw"))
      q.copy(bad = q.bad.unionAll(surplus))
    }
  }

  /** Line-delimited JSON with a row-level quarantine ([[csvQuarantined]]
    * contract: bad JSON costs one `bad` row, never the task). */
  def jsonlQuarantined(spark: SparkSession, path: String,
      schema: StructType): Quarantined = {
    import org.apache.spark.sql.functions._
    require(!schema.fieldNames.contains(CorruptCol),
      s"schema may not contain reserved column $CorruptCol")
    val withCorrupt = schema.add(CorruptCol,
      org.apache.spark.sql.types.StringType)
    val parsed = rawLines(spark, path).withColumn("p",
      from_json(col("value"), withCorrupt,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> CorruptCol)))
    splitQuarantine(parsed, schema)
  }

  private def splitQuarantine(parsed: DataFrame, schema: StructType): Quarantined = {
    import org.apache.spark.sql.functions._
    // A row is poisoned when the parser recorded the raw text in the
    // corrupt column, or could not build the struct at all.
    val isBad = col("p").isNull || col(s"p.$CorruptCol").isNotNull
    Quarantined(
      good = parsed.where(!isBad)
        .select(schema.fieldNames.map(f => col(s"p.$f").as(f))
          .toIndexedSeq: _*),
      bad = parsed.where(isBad)
        .select(col("src_file"), col("value").as("raw")))
  }

  /** Invalid-UTF-8 detector: the text reader carries each row's ORIGINAL
    * bytes (UTF8String is raw bytes, not a decode), so an encode/decode
    * round trip — which replaces undecodable sequences with U+FFFD — is
    * the identity exactly on valid UTF-8. Rows whose round trip differs
    * carried invalid bytes; rows that legitimately CONTAIN U+FFFD
    * round-trip unchanged and are never misflagged. */
  private def invalidUtf8(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{decode, encode}
    decode(encode(c, "UTF-8"), "UTF-8") =!= c
  }

  /** [[textLines]] with an encoding quarantine: lines whose original
    * bytes were not valid UTF-8 (see [[invalidUtf8]]) land in `bad` with
    * their source file instead of flowing mojibake into tokenizers and
    * fingerprints. Truncated compressed inputs ingest their decodable
    * prefix ([[rawLines]]' ignoreCorruptFiles). */
  def textLinesQuarantined(spark: SparkSession, path: String): Quarantined = {
    import org.apache.spark.sql.functions._
    val raw = rawLines(spark, path)
    val poisoned = invalidUtf8(col("value"))
    Quarantined(
      good = raw.where(!poisoned).select(col("value")),
      bad = raw.where(poisoned).select(col("src_file"),
        col("value").as("raw")))
  }

  /** [[textFiles]] with the same encoding quarantine, at document grain:
    * a file whose decode hit invalid UTF-8 quarantines whole (one bad ROW
    * — the poison-costs-one-row rule at this reader's record size). */
  def textFilesQuarantined(spark: SparkSession, path: String): Quarantined = {
    import org.apache.spark.sql.functions._
    val raw = spark.read.option("wholetext", "true")
      .option("ignoreCorruptFiles", "true").text(path)
      .select(input_file_name().as("src_file"), col("value").as("text"))
    val poisoned = invalidUtf8(col("text"))
    Quarantined(
      good = raw.where(!poisoned).select(col("src_file").as("doc_path"),
        col("text")),
      bad = raw.where(poisoned).select(col("src_file"),
        col("text").as("raw")))
  }

  // ───────────── columnar corrupt-FILE quarantine ─────────────────────────
  // The round-14 quarantine covered the text formats; a 100 TB lake,
  // though, LIVES in parquet/ORC, where the poison grain is the FILE (a
  // truncated footer, a zero-byte part-file from a killed writer, a
  // half-uploaded object). Spark's `ignoreCorruptFiles` skips those
  // SILENTLY — the one failure mode a quarantine exists to prevent — so
  // these readers probe every file's footer in a distributed pass first
  // (names + footers only, never data bytes), then scan exactly the good
  // set and report the bad set counted and inspectable.

  /** A columnar quarantined ingest: `good` scans exactly the
    * `goodFileCount` files whose footers validated; `badFiles` holds one
    * row per corrupt file — `(path, length, error)`. When EVERY file is
    * corrupt (`goodFileCount == 0`) there is no schema left to give, so
    * `good` is the zero-column empty frame — check `goodFileCount`/
    * `badFileCount()` before selecting columns; that all-poisoned state
    * is precisely the alert the counts exist for. */
  final case class QuarantinedFiles(good: DataFrame, badFiles: DataFrame,
      goodFileCount: Long) {
    /** Corrupt-file count — the lake-health number an operator alerts
      * on. */
    def badFileCount(): Long = badFiles.count()
  }

  /** Hadoop Configuration is not serializable; this is the standard
    * write/readFields envelope so the footer probe can run on executors
    * with the session's exact FS settings. */
  private[sources] final class SerConf(
      @transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Visible data files under `path`, recursively (hive partition dirs
    * descend; dot/underscore names skip) — (path, length) pairs, a
    * NAME-sized frame. */
  private def listDataFiles(spark: SparkSession,
      path: String): Seq[(String, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val rootPath = fs.makeQualified(root).toUri.getPath
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val s = it.next()
      // Hidden-ness is judged only BELOW the input root — a dot or
      // underscore in the root's own ancestry must not hide the lake.
      val rel = s.getPath.toUri.getPath.stripPrefix(rootPath)
      val hidden = rel.split('/').exists(p =>
        p.startsWith(".") || p.startsWith("_"))
      if (s.isFile && !hidden) out += ((s.getPath.toString, s.getLen))
    }
    out.toSeq
  }

  /** [[parquet]] with a FILE-level quarantine: every file's footer is
    * validated in a distributed probe (one metadata read per file, data
    * bytes untouched); files that fail — truncated footer, bad magic,
    * zero bytes — land in `badFiles` counted with their error, and `good`
    * scans exactly the validated set (hive partition columns preserved
    * via `basePath`). One poisoned file costs one quarantine row, never
    * the job — and never a silent skip. */
  def parquetQuarantined(spark: SparkSession,
      path: String): QuarantinedFiles =
    columnarQuarantined(spark, path, "parquet")

  /** [[orc]] with the same file-level quarantine contract. */
  def orcQuarantined(spark: SparkSession, path: String): QuarantinedFiles =
    columnarQuarantined(spark, path, "orc")

  /** One file's footer probe: null = valid, else the corruption error.
    * Catches only the CORRUPTION-shaped exceptions the parquet/ORC
    * readers throw for a bad file (IOException, RuntimeException — bad
    * magic, truncated footer, malformed thrift/proto); a fatal executor
    * error (OOM, linkage) propagates and fails the probe task, and an
    * IOException retries once first — a flaky store must not make
    * healthy files vanish into the quarantine, the exact silent-skip
    * failure mode this reader exists to prevent. */
  private[sources] def probeFooter(p: String, len: Long, fmt: String,
      conf: org.apache.hadoop.conf.Configuration): String = {
    def openOnce(): String = {
      val hp = new org.apache.hadoop.fs.Path(p)
      // Zero bytes is a killed-writer artifact, poison by POLICY: the
      // ORC reader would accept it as a valid empty file (the Hive
      // convention), which is exactly the silent skip a quarantine
      // exists to surface.
      if (len == 0L) "zero-length file"
      else if (fmt == "parquet") {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(hp, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try { r.getFooter; null } finally r.close()
      } else {
        val r = org.apache.orc.OrcFile.createReader(hp,
          org.apache.orc.OrcFile.readerOptions(conf))
        try { r.getNumberOfRows; null } finally r.close()
      }
    }
    def msg(e: Exception): String =
      Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
    try openOnce()
    catch {
      case _: java.io.IOException =>
        // One retry: a transient read error is indistinguishable from a
        // truncated footer on the first attempt; twice in a row is a
        // verdict.
        try openOnce()
        catch {
          case e2: java.io.IOException => msg(e2)
          case e2: RuntimeException => msg(e2)
        }
      case e: RuntimeException => msg(e)
    }
  }

  private def columnarQuarantined(spark: SparkSession, path: String,
      format: String): QuarantinedFiles = {
    import spark.implicits._
    val files = listDataFiles(spark, path)
    val conf = new SerConf(spark.sparkContext.hadoopConfiguration)
    val fmt = format
    // The probe runs distributed (one footer read per file, fanned over
    // the cluster), but only the BAD set comes back to the driver: bad
    // files are EXCEPTIONAL by contract (a healthy lake has zero), so
    // even at the million-file design point the collected rows are a
    // handful — while the full per-file frame, 300-char error strings
    // included, would be hundreds of MB of driver heap. Collecting once
    // also pins the verdict: badFiles, the count, and the good set all
    // derive from ONE probe pass instead of re-running the distributed
    // footer sweep per downstream action.
    val bad = spark.createDataset(files)
      .toDF("path", "length")
      .repartition(math.max(1, math.min(files.size,
        spark.sessionState.conf.numShufflePartitions)))
      .map(row => (row.getString(0), row.getLong(1),
        probeFooter(row.getString(0), row.getLong(1), fmt, conf.value)))
      .filter(_._3 != null)
      .collect()
    val badDf = spark.createDataset(bad.toSeq)
      .toDF("path", "length", "error")
    val badN = bad.length.toLong
    val goodN = files.size.toLong - badN
    val goodPaths = {
      val badSet = bad.map(_._1).toSet
      files.map(_._1).filterNot(badSet)
    }
    // The good scan loads the EXPLICIT probed-good file list — never the
    // directory. A directory read with an empty inferred partition spec
    // keeps only the root's DIRECT children, so a nested non-k=v layout
    // would silently lose every nested file the probe counted as good;
    // and an `ignoreCorruptFiles` directory read would silently skip
    // data-page-level corruption the footer probe cannot see, uncounted.
    // Both break this API's no-silent-skip contract. The explicit list
    // reads LOUD: a data-page error surfaces as a task failure (the
    // footer probe's known gap, by policy — corruption past the footer
    // is a job-stopper, not a quarantine row). Hive partition columns
    // are preserved via basePath when the layout is pure k=v
    // ([[graft.sources.Sink.readCompacted]]'s rule); the data schema is
    // pinned from ONE probed-good file when corruption is present —
    // plain inference samples a single footer, which could be a corrupt
    // one — and partition inference still appends the hive columns on
    // top of the pinned data schema.
    val goodDf =
      if (goodN == 0L) spark.emptyDataFrame
      else {
        val rootPath = {
          val root = new org.apache.hadoop.fs.Path(path)
          val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.makeQualified(root).toUri.getPath
        }
        val pureHive = goodPaths.forall { p =>
          val rel = new org.apache.hadoop.fs.Path(p).toUri.getPath
            .stripPrefix(rootPath)
          rel.split('/').filter(_.nonEmpty).dropRight(1)
            .forall(_.contains("="))
        }
        val r1 =
          if (badN == 0L) spark.read.format(format)
          else spark.read.format(format).schema(
            spark.read.format(format).load(goodPaths.head).schema)
        val r2 = if (pureHive) r1.option("basePath", path) else r1
        r2.load(goodPaths: _*)
      }
    QuarantinedFiles(goodDf, badDf, goodN)
  }

  /** Register a whole directory of `<name>.parquet` tables, like the
    * reference's module-level fixture loop (`tests/utils.py:26-34`). */
  def registerDir(spark: SparkSession, dir: String): Seq[String] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array())
    files.toSeq
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val name = f.getName.stripSuffix(".parquet")
        graft.Engine.registerTempTable(parquet(spark, f.getPath), name)
        name
      }
  }
}
