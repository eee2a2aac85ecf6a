package perfbench

/** Plain-Scala references for the graph queries the benchmark runs,
  * computed from the generated trade graph without Spark. Each mirrors its
  * query's documented protocol exactly, so the query's output must equal
  * it as a set of rows.
  */
object Reference {
  private def neighbours(edges: Seq[(Long, Long)]): Map[Long, Seq[Long]] =
    (edges ++ edges.map(_.swap)).distinct
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }

  /** q278_kcore: the 2-core of the trade graph plus the query's planted
    * 20-node path (peels away) and 12-node ring (survives). Returns
    * (node, degree inside the core) rows. */
  def kCore(pairs: Array[(Long, Long)]): Set[(Long, Long)] = {
    val path = (1 until 20).map(i => (20000000L + i, 20000000L + i + 1))
    val ring = (1 to 12).map(i => (30000000L + i, 30000000L + (i % 12) + 1))
    val nbrs = neighbours((pairs.toSeq ++ path ++ ring).filter { case (a, b) => a != b })
    val degree = scala.collection.mutable.Map(nbrs.map { case (n, ns) => n -> ns.size.toLong }.toSeq: _*)
    var peel = degree.collect { case (n, d) if d < 2 => n }
    while (peel.nonEmpty) {
      peel.foreach(degree.remove)
      for (n <- peel; m <- nbrs(n) if degree.contains(m)) degree(m) -= 1
      peel = degree.collect { case (n, d) if d < 2 => n }
    }
    degree.toSet
  }

  /** q290_label_prop over the symmetrized (supplier, customer) pairs: 3
    * synchronous rounds; each node takes its neighbours' most frequent
    * label, ties to the smallest label. Returns (node, label) rows. */
  def labelPropagation(pairs: Array[(Long, Long)]): Set[(Long, Long)] = {
    val nbrs = neighbours(pairs.toSeq)
    var label = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      label = nbrs.map { case (n, ns) =>
        n -> -ns.groupBy(label).iterator.map { case (l, vs) => (vs.length, -l) }.max._2
      }
    }
    label.toSet
  }
}
