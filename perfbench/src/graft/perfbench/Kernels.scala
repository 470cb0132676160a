package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.algo.{LocalGraph, LocalKernels}

/** The CSR pair loop: Dijkstra, A* and Yen (k = 3) on the driver-local
  * CSR graph for each seeded (source, target) pair, with Dijkstra ≡ A*
  * cost and Yen[0] ≡ Dijkstra asserted on every pair.
  */
object Kernels {
  final case class Pair(src: String, dst: String, dijkstra: Double,
      astar: Double, yen: Seq[Double], dijkstraUs: Double, astarUs: Double,
      yenUs: Double)

  final case class Loop(pairs: Seq[Pair]) {
    def json: String = pairs.map { p =>
      s"""{"src":${Json.str(p.src)},"dst":${Json.str(p.dst)},""" +
        s""""dijkstra":${Json.num(p.dijkstra)},"astar":${Json.num(p.astar)},""" +
        s""""yen":${p.yen.map(Json.num).mkString("[", ",", "]")}}"""
    }.mkString("[", ",\n", "]\n")
  }

  def localGraph(spark: SparkSession, csv: String): LocalGraph = {
    val pg = graft.queries.Graph.graphFor(spark, csv)
    LocalGraph.fromProjection(pg.projection, Some(pg.nodes))
  }

  private def timedUs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e3)
  }

  def pairLoop(spark: SparkSession, csv: String, pairs: Seq[(String, String)]): Loop = {
    val g = localGraph(spark, csv)
    val rows = pairs.map { case (s, d) =>
      val (si, di) = (g.idOf(s), g.idOf(d))
      val (dj, djUs) = timedUs(LocalKernels.dijkstra(g, si, di))
      val (as, asUs) = timedUs(LocalKernels.astar(g, si, di))
      val (yen, yenUs) = timedUs(LocalKernels.yen(g, si, di, 3))
      val djCost = dj.map(_.totalCost).getOrElse(Double.NaN)
      val asCost = as.map(_.totalCost).getOrElse(Double.NaN)
      require(dj.isDefined == as.isDefined &&
        (dj.isEmpty || math.abs(djCost - asCost) <= 1e-9 * math.max(1.0, djCost)),
        s"A* cost $asCost != Dijkstra cost $djCost for $s -> $d")
      require(yen.headOption.map(_.totalCost) == dj.map(_.totalCost),
        s"Yen[0] ${yen.headOption.map(_.totalCost)} != Dijkstra $djCost for $s -> $d")
      Pair(s, d, djCost, asCost, yen.map(_.totalCost), djUs, asUs, yenUs)
    }
    Loop(rows)
  }
}
