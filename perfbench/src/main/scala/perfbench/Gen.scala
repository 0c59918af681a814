package perfbench

/** splitmix64: a small seeded stream, identical on every JVM. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextInt(bound: Int): Int = Math.floorMod(nextLong(), bound.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  /** A seeded permutation of 0 until n (Fisher-Yates). */
  def permutation(n: Int): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }
}

/** The seeded generator of the `dedup_docs` corpus (`bbcode_turns` reads
  * `TranscriptGen`). The corpus is a pure function of the seed. Sizes that
  * follow a heavy tail are taken at fixed quantiles, in seeded order, so
  * every seed has the same sizes and the seed changes content and
  * placement only.
  */
object Gen {
  /** Inverse CDF of a Pareto(xmin, alpha) size, capped. */
  private def pareto(u: Double, xmin: Double, alpha: Double, cap: Double): Double =
    math.min(cap, xmin * math.pow(1.0 - u, -1.0 / alpha))

  /** The Pareto sizes at the midpoints of `n` equal quantile strata, in
    * seeded order: every seed gets the same sizes.
    */
  def stratifiedPareto(rng: Rng, n: Int, xmin: Double, alpha: Double, cap: Double): Array[Double] = {
    val order = rng.permutation(n)
    Array.tabulate(n)(i => pareto((order(i) + 0.5) / n, xmin, alpha, cap))
  }

  private def word(rng: Rng): String = {
    val n = 3 + rng.nextInt(7)
    val cs = new Array[Char](n)
    var i = 0
    while (i < n) { cs(i) = ('a' + rng.nextInt(26)).toChar; i += 1 }
    new String(cs)
  }

  // ---- dedup_docs ----

  /** A dedup corpus and its ground truth: `survivors` are the ids
    * `DedupMain` must keep (min id per planted cluster, every singleton,
    * the min id of the exact group); `group` maps each id to its planted
    * cluster, -1 for a singleton and -2 for the exact group.
    */
  final case class Corpus(docs: IndexedSeq[(Long, String)], survivors: Set[Long],
                          group: Map[Long, Int], clusterSizes: Seq[Int], exactCopies: Int,
                          singletons: Int)

  /** Organic singletons (random words from a 20k-word vocabulary, lengths
    * spread evenly over 40-200 words: near-zero pairwise Jaccard), planted
    * near-duplicate clusters of heavy-tailed size (Pareto, alpha 1.3, from
    * 2 members, capped at 150), and one exact boilerplate group. A cluster
    * member is its 400-word base document with one word replaced at a
    * member-specific position, so two members differ in at most 6 of their
    * 398 word 3-shingles: Jaccard >= 0.97, far above DedupMain's 0.8, and
    * any other pair sits near 0. Ids are assigned in seeded order.
    */
  def dedupCorpus(seed: Long, singletons: Int, clusters: Int, exactCopies: Int): Corpus = {
    val rng = new Rng(seed * 104729L + 3)
    val vocab = Array.fill(20000)(word(rng))
    def doc(r: Rng, len: Int): Array[String] = Array.fill(len)(vocab(r.nextInt(vocab.length)))
    val sizes = stratifiedPareto(rng, clusters, 2, 1.3, 150).map(_.toInt)

    val texts = Seq.newBuilder[(Int, String)] // (group: -1 singleton, -2 exact, else cluster)
    val lengths = rng.permutation(singletons)
    for (i <- 0 until singletons)
      texts += -1 -> doc(rng, 40 + lengths(i) * 161 / singletons).mkString(" ")
    for ((size, c) <- sizes.zipWithIndex) {
      val base = doc(rng, 400)
      val step = base.length / (size + 1)
      for (m <- 0 until size) {
        val d = base.clone()
        d((m + 1) * step) = f"edit${rng.nextLong() & 0xffffffffffL}%010x"
        texts += c -> d.mkString(" ")
      }
    }
    val boilerplate = doc(rng, 120).mkString("Cookie notice: ", " ", "")
    for (_ <- 0 until exactCopies) texts += -2 -> boilerplate

    val all = texts.result().toIndexedSeq
    val order = rng.permutation(all.length)
    val ids = Array.tabulate(all.length)(i => 1000L + order(i))
    val survivors = all.indices.groupBy(i => all(i)._1).iterator.flatMap {
      case (-1, members) => members.map(ids(_))
      case (_, members) => Iterator.single(members.map(ids(_)).min)
    }.toSet
    val docs = all.indices.map(i => ids(i) -> all(i)._2).sortBy(_._1)
    Corpus(docs, survivors, all.indices.map(i => ids(i) -> all(i)._1).toMap, sizes.toSeq,
      exactCopies, singletons)
  }
}
