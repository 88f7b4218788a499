package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** PageRank against hand-computed fixtures (dangling redistribution, cycle
  * symmetry, mass conservation). */
class GraphOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] =
    GraphOps.pagerank(edges.toDF("src", "dst"), iters)
      .as[(Long, Double)].collect().toMap

  test("one step with a dangling sink matches the hand computation") {
    // a->b, b dangles. From uniform [0.5, 0.5], dangling mass 0.5:
    //   r(a) = 0.15/2 + 0.85*(0 + 0.5/2)    = 0.2875
    //   r(b) = 0.15/2 + 0.85*(0.5 + 0.5/2)  = 0.7125
    val r = ranks(Seq(1L -> 2L), iters = 1)
    assert(math.abs(r(1L) - 0.2875) < 1e-9)
    assert(math.abs(r(2L) - 0.7125) < 1e-9)
  }

  test("a cycle stays uniform at any iteration count") {
    val cycle = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L)
    val r = ranks(cycle, iters = 5)
    r.values.foreach(v => assert(math.abs(v - 0.25) < 1e-9))
  }

  test("total mass is conserved with mixed dangling/branching nodes") {
    val edges = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 4L -> 1L, 5L -> 3L)
    // nodes 3 is dangling; 1 branches
    val r = ranks(edges, iters = 4)
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    // the sink of most edges outranks the pure sources
    assert(r(3L) > r(4L) && r(3L) > r(5L))
  }

  private def triangles(edges: Seq[(Long, Long)]): Map[Long, Long] =
    GraphOps.triangleCounts(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("K4 has four triangles, three per node") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val t = triangles(k4)
    assert(t === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("stars and paths are triangle-free; direction and dups don't matter") {
    assert(triangles(Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 5L)).isEmpty)
    // same triangle given with mixed direction, duplicates, and a self-loop
    val messy = Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 1L, 1L -> 1L, 2L -> 3L)
    assert(triangles(messy) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("hub-and-rim: each rim edge closes one triangle through the hub") {
    // hub 0 connects to 1..5; rim edges 1-2, 3-4 -> two triangles
    val edges = (1L to 5L).map(0L -> _) ++ Seq(1L -> 2L, 3L -> 4L)
    val t = triangles(edges)
    assert(t === Map(0L -> 2L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }
}

/** PMI lift and distribution drift against hand counts. */
class PmiDriftSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("shortestPaths: round k is the min over <=k-edge paths; weights beat hops") {
    // 1 -2.0- 2 -2.0- 3, plus a direct heavy 1 -5.0- 3 and a light long
    // way around 1 -1.0- 4 -1.0- 5 -1.0- 3. Undirected.
    val edges = Seq(
      (1L, 2L, 2.0), (2L, 3L, 2.0), (1L, 3L, 5.0),
      (1L, 4L, 1.0), (4L, 5L, 1.0), (5L, 3L, 1.0)
    ).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    def at(k: Int): Map[Long, Double] =
      GraphOps.shortestPaths(edges, seeds, k)
        .as[(Long, Double)].collect().toMap
    assert(at(0) === Map(1L -> 0.0))
    assert(at(1) === Map(1L -> 0.0, 2L -> 2.0, 3L -> 5.0, 4L -> 1.0))
    // 2 rounds: 3 improves via 1-2-3 (4.0); 5 reached via 4
    assert(at(2) === Map(1L -> 0.0, 2L -> 2.0, 3L -> 4.0, 4L -> 1.0,
      5L -> 2.0))
    // 3 rounds: the light 3-edge path 1-4-5-3 wins (3.0)
    assert(at(3)(3L) === 3.0)
    // parallel edges keep the lightest; converged thereafter
    val dup = edges.unionAll(Seq((1L, 2L, 9.0)).toDF("src", "dst", "w"))
    val dupDists = GraphOps.shortestPaths(dup, seeds, 4)
      .as[(Long, Double)].collect().toMap
    assert(dupDists(2L) === 2.0)
    intercept[IllegalArgumentException] {
      GraphOps.shortestPaths(
        Seq((1L, 2L, -1.0)).toDF("src", "dst", "w"), seeds, 1)
    }
    // a null weight must fail loudly even when a parallel copy is
    // non-null (the min-fold would otherwise swallow it), and so must a
    // null endpoint (the self-loop filter would otherwise drop it)
    intercept[IllegalArgumentException] {
      GraphOps.shortestPaths(
        Seq((1L, 2L, Some(3.0)), (1L, 2L, None))
          .toDF("src", "dst", "w"), seeds, 1)
    }
    intercept[IllegalArgumentException] {
      GraphOps.shortestPaths(
        Seq((Some(1L), Some(2L), 1.0), (None, Some(2L), 1.0))
          .toDF("src", "dst", "w"), seeds, 1)
    }
  }

  test("pmiPairs matches hand-computed lifts") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "b c"))
      .toDF("doc_id", "text")
    val out = CorpusOps.pmiPairs(docs, col("doc_id"), col("text"),
        minDf = 1, minPair = 1)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // D=4; df: a=3, b=3, c=2
    assert(out(("a", "b")) == (2L, 888889L)) // 2*4/9
    assert(out(("a", "c")) == (1L, 666667L)) // 1*4/6
    assert(out(("b", "c")) == (1L, 666667L))
  }

  test("pmiPairs support floors prune pairs and rare words") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "b c"))
      .toDF("doc_id", "text")
    val byDf = CorpusOps.pmiPairs(docs, col("doc_id"), col("text"),
      minDf = 3, minPair = 1).as[(String, String, Long, Long)].collect()
    assert(byDf.map(r => (r._1, r._2)).toSet == Set(("a", "b"))) // c has df 2
    val byPair = CorpusOps.pmiPairs(docs, col("doc_id"), col("text"),
      minDf = 1, minPair = 2).as[(String, String, Long, Long)].collect()
    assert(byPair.map(r => (r._1, r._2)).toSet == Set(("a", "b")))
  }

  test("distributionDrift computes total-variation distance per group") {
    val df = Seq(("g1", "x"), ("g1", "x"), ("g1", "y"), ("g2", "x"))
      .toDF("g0", "cat0")
    val out = QualityOps.distributionDrift(df, col("g0"), col("cat0"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // corpus mix: x=3/4, y=1/4
    // g1: p=(2/3, 1/3) -> tv = 0.5*(1/12 + 1/12) = 1/12 -> 83333
    // g2: p=(1, 0)     -> tv = 0.5*(1/4 + 1/4)   = 1/4  -> 250000
    assert(out("g1") == (3L, 83333L))
    assert(out("g2") == (1L, 250000L))
  }

  test("hits separates hub and authority roles on a fan-in graph") {
    val edges = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst")
    val out = GraphOps.hits(edges, iters = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // 1 and 2 are pure equal hubs; 3 is the only authority
    assert(out(1L) === ((1000000000L, 0L)))
    assert(out(2L) === ((1000000000L, 0L)))
    assert(out(3L) === ((0L, 1000000000L)))
  }

  test("graphProfile: star graph is maximally disassortative") {
    // star: center degree 4, leaves degree 1 -> assortativity -1
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val out = GraphOps.graphProfile(edges)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(out === ((5L, 4L, 4L, 1600000L, -1000000L)))
  }

  test("personalizedPagerank concentrates mass near the seed and conserves it") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val r = GraphOps.personalizedPagerank(edges, seeds, iters = 2)
      .as[(Long, Double)].collect().toMap
    // hand-iterate: r=(1,0) -> (0.15, 0.85) -> (0.15+0.85^2, 0.85*0.15)
    assert(math.abs(r(1L) - 0.8725) < 1e-9)
    assert(math.abs(r(2L) - 0.1275) < 1e-9)
    assert(math.abs(r.values.sum - 1.0) < 1e-9) // mass conserved
  }

  test("personalizedPagerank: nodes unreachable from seeds stay at zero") {
    // two disconnected pairs; seed only in the first
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val r = GraphOps.personalizedPagerank(edges, Seq(1L).toDF("id"), 3)
      .as[(Long, Double)].collect().toMap
    assert(r(3L) === 0.0 && r(4L) === 0.0)
    assert(r(1L) > 0.0 && r(2L) > 0.0)
  }

  test("linkPrediction scores square diagonals, skips existing edges") {
    // cycle 1-2-3-4-1: the only non-edges are the diagonals (1,3), (2,4),
    // each closed by two degree-2 wedges
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val out = GraphOps.linkPrediction(edges, maxDegree = 100, minCommon = 1L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val aa2 = 2L * 1442695041L // 2 * floor(1e9/ln 2 + 1/2)
    assert(out === Set((1L, 3L, 2L, aa2, 1000000L),
      (2L, 4L, 2L, aa2, 1000000L)))
  }

  test("linkPrediction hub cap drops wedges centered on high-degree nodes") {
    // star center 0 with leaves 1..4 plus edge 1-2: with maxDegree 3 the
    // center (degree 4) is excluded, so only the 1-2 edge's endpoints
    // could center wedges — and they close nothing new
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (1L, 2L))
      .toDF("src", "dst")
    val capped = GraphOps.linkPrediction(edges, maxDegree = 3, minCommon = 1L)
    assert(capped.count() === 0L)
    val uncapped = GraphOps.linkPrediction(edges, maxDegree = 100,
      minCommon = 1L)
    // center 0 closes all leaf pairs except the existing 1-2 edge
    assert(uncapped.select("n1", "n2").as[(Long, Long)].collect().toSet ===
      Set((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("clusteringCoefficient: triangle-plus-tail has textbook scores") {
    // triangle 1-2-3 with a tail 3-4: CC(1)=CC(2)=1, CC(3)=1/3,
    // CC(4) undefined (degree 1) -> null
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = GraphOps.clusteringCoefficient(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(out(1L) === ((2L, 1L, Some(1000000L))))
    assert(out(2L) === ((2L, 1L, Some(1000000L))))
    assert(out(3L) === ((3L, 1L, Some(333333L))))
    assert(out(4L) === ((1L, 0L, None)))
  }

  test("clusteringCoefficient: triangle-free node scores zero") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = GraphOps.clusteringCoefficient(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(out(2L) === ((0L, Some(0L))), "path center: degree 2, no triangle")
  }

  // --- checkpoint-residual contract: an iterative call may leave at most
  // its RESULT pinned in executor storage. Superseded rounds and shared
  // inputs must be released explicitly (ContextCleaner is GC-driven and
  // too lazy for a 300-query session or a 20-iteration 100 TB PageRank).

  private def sweepStorage(): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  private def pinnedCount: Int = spark.sparkContext.getPersistentRDDs.size

  test("pagerank releases all iteration state except the final ranks") {
    sweepStorage()
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 1L).toDF("src", "dst")
    val r = GraphOps.pagerank(edges, iters = 5)
    assert(r.count() === 4)
    assert(pinnedCount === 1,
      s"expected only the result checkpoint pinned, found $pinnedCount")
  }

  test("bfsHops folds frontiers into one result checkpoint and frees the rest") {
    sweepStorage()
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val out = GraphOps.bfsHops(edges, seeds, maxHops = 4)
    assert(out.count() === 5)
    assert(pinnedCount === 1,
      s"expected only the result checkpoint pinned, found $pinnedCount")
  }

  test("kCore and randomWalks leave only their result pinned") {
    sweepStorage()
    val k4 = (for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j))
      .toDF("src", "dst")
    assert(GraphOps.kCore(k4, k = 2, rounds = 3).count() === 4)
    assert(pinnedCount === 1, s"kCore residual: $pinnedCount")
    sweepStorage()
    val walks = GraphOps.randomWalks(k4, Seq(1L, 2L).toDF("node"), steps = 3)
    assert(walks.count() === 8)
    assert(pinnedCount === 1, s"randomWalks residual: $pinnedCount")
  }

  test("personalizedPagerank and shortestPaths leave only their result pinned; hits its two score tables") {
    sweepStorage()
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 1L).toDF("src", "dst")
    assert(GraphOps.personalizedPagerank(edges, Seq(1L).toDF("id"), iters = 3)
      .count() === 4)
    assert(pinnedCount === 1, s"personalizedPagerank residual: $pinnedCount")
    sweepStorage()
    val w = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (1L, 3L, 5.0)).toDF("src", "dst", "w")
    assert(GraphOps.shortestPaths(w, Seq(1L).toDF("node"), iters = 3).count() === 3)
    assert(pinnedCount === 1, s"shortestPaths residual: $pinnedCount")
    sweepStorage()
    // the result is a lazy join over the last hub and authority tables
    assert(GraphOps.hits(edges, iters = 3).count() === 4)
    assert(pinnedCount === 2, s"hits residual: $pinnedCount")
  }

  /** Spark jobs one more round costs: the jobs of a run to `r + 1` rounds
    * minus those of a run to `r`, each consumed by one count. */
  private def jobsPerRound(run: Int => org.apache.spark.sql.DataFrame, r: Int): Int = {
    import org.apache.spark.sql.graftbridge.SqlBridge
    def jobs(n: Int): Int = SqlBridge.jobsOf(spark)(run(n).count())._2
    jobs(r + 1) - jobs(r)
  }

  test("bfsHops and kCore start at most 4 Spark jobs per round") {
    // a 13-node path: neither the frontier nor the 2-core peel settles
    // within 3 rounds, so every round runs
    val path = (1L to 12L).map(i => (i, i + 1)).toDF("src", "dst")
    // the frontier's row count rides its pin job — no emptiness probe
    val hop = jobsPerRound(GraphOps.bfsHops(path, Seq(1L).toDF("node"), _), 2)
    assert(hop <= 4, s"bfsHops: $hop jobs per hop")
    val peel = jobsPerRound(GraphOps.kCore(path, k = 2, _), 2)
    assert(peel <= 4, s"kCore: $peel jobs per round")
  }

  test("labelPropagation: two bridged triangles, hand-traced two rounds") {
    sweepStorage()
    // triangles {1,2,3} and {10,11,12}, bridge 3-10; round 1 (all labels
    // distinct, every count 1) takes each node's MIN neighbor; round 2
    // votes over those. Hand trace: after r1 labels are
    // 1->2 2->1 3->1 10->3 11->10 12->10; r2 majorities/tie-breaks give
    // 1->1 2->1 3->1 (left triangle converged) 10->10 11->3 12->3.
    val edges = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L,
      10L -> 11L, 11L -> 12L, 10L -> 12L, 3L -> 10L).toDF("src", "dst")
    val out = GraphOps.labelPropagation(edges, iters = 2)
    assert(out.as[(Long, Long)].collect().sortBy(_._1).toSeq ===
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 3L, 12L -> 3L))
    assert(pinnedCount === 1, s"labelPropagation residual: $pinnedCount")
  }

  test("labelPropagation tie-break is the smallest label; direction and dups don't matter") {
    sweepStorage()
    // a 1-2 edge listed both ways and duplicated: one round swaps the
    // two labels deterministically (min of the single neighbor)
    val noisy = Seq(1L -> 2L, 2L -> 1L, 1L -> 2L).toDF("src", "dst")
    val one = GraphOps.labelPropagation(noisy, iters = 1)
    assert(one.as[(Long, Long)].collect().sortBy(_._1).toSeq ===
      Seq(1L -> 2L, 2L -> 1L))
    graft.core.Checkpoints.release(one)
    // 4-cycle, one round: each node adopts min(two neighbors)
    val cyc = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L).toDF("src", "dst")
    val r1 = GraphOps.labelPropagation(cyc, iters = 1)
    assert(r1.as[(Long, Long)].collect().sortBy(_._1).toSeq ===
      Seq(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }
}
