package perfbench

/** Determinism of the seeded generators: the same seed gives the same
  * inputs, another seed other values of the same sizes. Prints "selftest
  * ok" or throws. Run by the benchmark's Python tests. */
object SelfTest {
  def run(): Unit = {
    def refRows(seed: Long) = Gen.referenceTables(seed).map(t => t.name -> t.rows)
    require(refRows(7) == refRows(7), "reference tables differ for one seed")
    require(refRows(7) != refRows(8), "reference tables equal for two seeds")
    require(refRows(7).map(_._2.size) == refRows(8).map(_._2.size),
      "reference table sizes depend on the seed")
    require(Gen.chainRows(7, 3).rows == Gen.chainRows(7, 3).rows,
      "chain rows differ for one seed")
    val corpus = IndexedSeq("a b c d e f g h i j k", "k l m n o p q r s t u")
    def arr(seed: Long) = Gen.arrivals(seed, corpus, 4, 10, 100L)
    require(arr(7) == arr(7), "arrivals differ for one seed")
    require(arr(7) != arr(8), "arrivals equal for two seeds")
    require(arr(8).map(_.size) == arr(7).map(_.size), "batch sizes depend on the seed")
    require(RefSession.passOrder(7, 0) == RefSession.passOrder(7, 0),
      "pass order differs for one seed")
    println("selftest ok")
  }
}
