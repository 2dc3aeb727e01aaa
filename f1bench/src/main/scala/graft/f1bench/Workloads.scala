package graft.f1bench

/** How `--seed` shapes the `query_mix` workload. */
object Workloads {

  /** Queries in one `query_mix` pass, one from each cost stratum. */
  val MixSize = 6

  /** The `query_mix` panel in a seeded run order.
    *
    * `costs` maps every candidate to its reference cost. Candidates are
    * sorted by (cost, name) and cut into `k` contiguous strata of near-equal
    * size; the panel is the middle query of each stratum, so it spans the
    * registry's cost range. The seed only shuffles the order: content that
    * changed with the seed would change the pass cost and the retained heap
    * with it, far beyond the run-to-run bounds the benchmark holds.
    */
  def sample(costs: Map[String, Double], seed: Long, k: Int): Seq[String] = {
    val sorted = costs.toSeq.sortBy { case (n, c) => (c, n) }.map(_._1)
    val panel = (0 until k).map { i =>
      val stratum = sorted.slice(i * sorted.size / k, (i + 1) * sorted.size / k)
      stratum(stratum.size / 2)
    }
    new scala.util.Random(seed).shuffle(panel)
  }
}
