package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class GraphPathsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // seeded random directed graph: 200 nodes, out-degree ~3
  val rnd = new scala.util.Random(11)
  val edges: Seq[(Long, Long)] = (0L until 200L).flatMap { s =>
    (0 until 3).map(_ => (s, rnd.nextInt(200).toLong))
  }

  /** Run `body` with the small-graph driver fast path disabled, so the
    * DISTRIBUTED round loop is exercised (test graphs all sit below the
    * default threshold). */
  def forceDistributed[T](body: => T): T = {
    spark.conf.set("spark.graft.graph.smallGraphMaxEdges", "0")
    try body finally spark.conf.unset("spark.graft.graph.smallGraphMaxEdges")
  }

  test("bfsLevels == brute-force BFS distances (random graph, several depths)") {
    val e = edges.toDF("src", "dst")
    for (depth <- Seq(1, 3, 8)) {
      // default = small-graph driver path; forced = distributed star rounds —
      // both must match the oracle (and therefore each other)
      val got = GraphPaths.bfsLevels(e, source = 0L, maxDepth = depth)
        .as[(Long, Int)].collect().toMap
      val gotDist = forceDistributed {
        GraphPaths.bfsLevels(e, source = 0L, maxDepth = depth)
          .as[(Long, Int)].collect().toMap
      }
      val want = graft.Oracles.bruteBfs(edges, 0L, depth)
      assert(got === want, s"depth=$depth")
      assert(gotDist === want, s"depth=$depth (distributed)")
      assert(want.size > 1)
    }
  }

  test("null-keyed edges are ignored identically on both paths") {
    // a null src/dst can come from an upstream outer join; the distributed
    // equi-join never matches it, and the driver fast path must not crash
    // in the tuple encoder — both paths treat it as a non-edge
    val e = Seq((Some(0L), Some(1L)), (Some(1L), Some(2L)),
      (None: Option[Long], Some(9L)), (Some(9L), None: Option[Long]))
      .toDF("src", "dst")
    val want = graft.Oracles.bruteBfs(Seq((0L, 1L), (1L, 2L)), 0L, 8)
    val got = GraphPaths.bfsLevels(e, 0L, 8).as[(Long, Int)].collect().toMap
    assert(got === want)
    val gotDist = forceDistributed {
      GraphPaths.bfsLevels(e, 0L, 8).as[(Long, Int)].collect().toMap
    }
    assert(gotDist === want)
    val ew = Seq((Some(0L), Some(1L), Some(3L)), (None: Option[Long], Some(7L), Some(1L)))
      .toDF("src", "dst", "w")
    val sssp = GraphPaths.weightedSssp(ew, 0L, maxRounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(sssp === Map(0L -> 0L, 1L -> 3L))
  }

  test("shortestPathLength: found within budget, None beyond it / unreachable") {
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
    def hops(target: Long, maxDepth: Int): Option[Int] =
      GraphPaths.bfsLevels(e, 0L, maxDepth).as[(Long, Int)].collect().toMap.get(target)
    assert(hops(3L, maxDepth = 8) === Some(3))
    assert(hops(3L, maxDepth = 2) === None)
    assert(hops(8L, maxDepth = 8) === None)
    assert(hops(0L, maxDepth = 8) === Some(0))
  }

  test("min-dist semantics: a node reachable by two paths keeps the shorter") {
    // 0->1->2->4 and 0->3->4: dist(4) must be 2, not 3
    val e = Seq((0L, 1L), (1L, 2L), (2L, 4L), (0L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = GraphPaths.bfsLevels(e, 0L, 8).as[(Long, Int)].collect().toMap
    assert(got === Map(0L -> 0, 1L -> 1, 3L -> 1, 2L -> 2, 4L -> 2))
  }

  test("shortestPath reconstructs the min-parent node sequence (== brute oracle)") {
    val e = edges.toDF("src", "dst")
    val dist = graft.Oracles.bruteBfs(edges, 0L, 8)
    // a handful of reachable targets across distances + one unreachable
    val targets = dist.groupBy(_._2).values.map(_.keys.min).toSeq.sorted
    for (t <- targets) {
      val got = GraphPaths.shortestPath(e, 0L, t, maxDepth = 8)
        .as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
      val gotDist = forceDistributed {
        GraphPaths.shortestPath(e, 0L, t, maxDepth = 8)
          .as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
      }
      val want = graft.Oracles.bruteShortestPath(edges, 0L, t, 8)
      assert(got === want, s"target=$t")
      assert(gotDist === want, s"target=$t (distributed)")
      assert(got.head === 0L && got.last === t && got.size === dist(t) + 1)
    }
    val unreachable = (0L until 300L).find(n => !dist.contains(n)).get
    assert(GraphPaths.shortestPath(e, 0L, unreachable, 8).count() === 0)
  }

  test("weightedSssp == driver Dijkstra on a seeded weighted graph; weight-1 == BFS") {
    val wEdges: Seq[(Long, Long, Long)] = edges.zipWithIndex.map { case ((s, d), i) =>
      (s, d, (i % 9 + 1).toLong)
    }
    val e = wEdges.toDF("src", "dst", "w")
    val got = GraphPaths.weightedSssp(e, source = 0L, maxRounds = 250)
      .as[(Long, Long)].collect().toMap
    val gotDist = forceDistributed {
      GraphPaths.weightedSssp(e, source = 0L, maxRounds = 250)
        .as[(Long, Long)].collect().toMap
    }
    val want = graft.Oracles.bruteSssp(wEdges, 0L)
    assert(got === want)
    assert(gotDist === want, "(distributed)")
    assert(want.size > 10, "fixture should reach a nontrivial component")
    // cheapest route must beat a heavy direct edge: 0 →(9) 1 vs 0 →(1) 2 →(1) 1
    val tiny = Seq((0L, 1L, 9L), (0L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val t = GraphPaths.weightedSssp(tiny, 0L, maxRounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(t === Map(0L -> 0L, 1L -> 2L, 2L -> 1L))
    // all weights 1 → distances == BFS hop counts
    val ones = edges.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w")
    val wd = GraphPaths.weightedSssp(ones, 0L, maxRounds = 250)
      .as[(Long, Long)].collect().toMap
    val hops = graft.Oracles.bruteBfs(edges, 0L, 250).map { case (k, v) => k -> v.toLong }
    assert(wd === hops)
  }

  test("reliable-checkpoint mode (executor-loss-safe) gives identical results") {
    // checkpointDir routes every per-round materialization through reliable
    // checkpoints (survives executor loss on a real cluster, where a lost
    // executor invalidates localCheckpoint blocks and aborts the iteration)
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    val e = edges.toDF("src", "dst")
    // checkpoint plumbing only exists on the distributed path — force it
    val (local, reliable) = forceDistributed {
      (GraphPaths.bfsLevels(e, 0L, 8).as[(Long, Int)].collect().toMap,
        GraphPaths.bfsLevels(e, 0L, 8, checkpointDir = Some(ckDir))
          .as[(Long, Int)].collect().toMap)
    }
    assert(reliable === local)
    // the checkpoint dir was actually used (RDD checkpoint files on disk)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(files > 0, "reliable checkpoint mode must write checkpoint files")
  }
}
