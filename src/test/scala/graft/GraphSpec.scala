package graft

import graft.core.DDFManager
import graft.operators.{Aggregations, Graph}
import org.apache.spark.sql.functions._

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("pageRank: symmetric pair is a fixed point; star ranks hand-computed") {
    // a <-> b: each node forwards its whole rank, so 150000 + 85% of
    // 1000000 = 1000000 every round — the exact fixed point
    val pair = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val pr = Graph.pageRank(pair, "src", "dst", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr == Map("a" -> 1000000L, "b" -> 1000000L), s"got $pr")

    // star a <-> {b, c}: hand-rolled two rounds of integer arithmetic
    //   round 1: a = 150000 + 85%*(1e6 + 1e6) = 1850000
    //            b = c = 150000 + 85%*(1e6 div 2) = 575000
    //   round 2: a = 150000 + 85%*(575000*2)     = 1127500
    //            b = c = 150000 + 85%*(1850000 div 2) = 936250
    val star = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("c", "a"))
      .toDF("src", "dst")
    val pr2 = Graph.pageRank(star, "src", "dst", iterations = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr2 == Map("a" -> 1127500L, "b" -> 936250L, "c" -> 936250L), s"got $pr2")
  }

  test("pageRank: dangling sink keeps collecting, emits nothing") {
    val pr = Graph.pageRank(Seq(("a", "sink")).toDF("src", "dst"), "src", "dst", 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a has no in-edges -> base only; sink collects a's whole rank
    assert(pr == Map("a" -> 150000L, "sink" -> 1000000L), s"got $pr")
  }

  test("mergeAggregates == direct aggregate over the union; non-mergeable fns refused") {
    val m = DDFManager(spark)
    val df = Seq(("x", 1.0), ("x", 5.0), ("y", 2.0), ("x", 3.0), ("y", 8.0))
      .toDF("g", "v")
    val spec = "g, n=count(*), mx=max(v), mn=min(v), s=sum(v)"
    val a = m.register(df.filter(col("v") < 4))
    val b = m.register(df.filter(col("v") >= 4))
    val merged = Aggregations.mergeAggregates(
      Aggregations.aggregate(a, spec).df, Aggregations.aggregate(b, spec).df, spec)
      .orderBy("g").collect()
    val direct = Aggregations.aggregate(m.register(df), spec).df
      .orderBy("g").collect()
    assert(merged.sameElements(direct))
    intercept[IllegalArgumentException](
      Aggregations.mergeAggregates(df, df, "g, m=avg(v)"))
  }

  test("pageRankWeighted: rank splits by weight; duplicate edges sum; pair fixed point") {
    // symmetric pair forwards its whole rank whatever the weight —
    // same fixed point as the unweighted form
    val pair = Seq(("a", "b", 7L), ("b", "a", 7L)).toDF("src", "dst", "w")
    val pp = Graph.pageRankWeighted(pair, "src", "dst", "w", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pp == Map("a" -> 1000000L, "b" -> 1000000L), s"got $pp")
    // star a→b (weight 3), a→c (weight 1): after one round b gets 3/4 of
    // a's damped mass, c gets 1/4 — hand-computed micro-units
    val star = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("src", "dst", "w")
    val ps = Graph.pageRankWeighted(star, "src", "dst", "w", iterations = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ps == Map("a" -> 150000L, "b" -> 787500L, "c" -> 362500L), s"got $ps")
    // duplicate (src, dst) rows sum their weights; zero-weight edges drop
    val dup = Seq(("a", "b", 2L), ("a", "b", 1L), ("a", "c", 1L), ("a", "d", 0L))
      .toDF("src", "dst", "w")
    val pd = Graph.pageRankWeighted(dup, "src", "dst", "w", iterations = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pd == Map("a" -> 150000L, "b" -> 787500L, "c" -> 362500L), s"got $pd")
  }

  test("hits: hand-computed two iterations; sources/sinks zero the right side (r17)") {
    import spark.implicits._
    // a->b, a->c, d->c: c is the authority (two in-links), a the hub
    val e = Seq(("a", "b"), ("a", "c"), ("d", "c")).toDF("s", "t")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = graft.operators.Graph.hits(e, "s", "t", iterations = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // iter1: araw b=S c=2S -> auth b=S/2 c=S; hraw a=1.5S d=S ->
    //   hub a=S d=floor(S/1.5)=666666
    // iter2: araw b=S c=1666666 -> auth b=floor(1e12/1666666)=600000 c=S;
    //   hraw a=1600000 d=1000000 -> hub a=S d=625000
    assert(out("a") == ((0L, 1000000L)), s"got ${out("a")}")
    assert(out("b") == ((600000L, 0L)))
    assert(out("c") == ((1000000L, 0L)))
    assert(out("d") == ((0L, 625000L)))
    out.values.foreach { case (au, hb) =>
      assert(au <= 1000000L && hb <= 1000000L) }
    // released iteration caches: only the returned materialization may
    // remain pinned beyond what was pinned before the call
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"hits must release its iteration frames, leaked ids: $leaked")
  }

  test("triangleCount: K4 has 3 per node; direction/dups/self-loops erased") {
    // K4 = 4 triangles, each node in exactly 3
    val k4 = (for {
      a <- 1 to 4; b <- 1 to 4 if a != b
    } yield (a.toLong, b.toLong)).toDF("src", "dst") // both directions + dups
      .unionAll(Seq((1L, 1L)).toDF("src", "dst"))    // self-loop must drop
    val tc = Graph.triangleCount(k4, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $tc")
    // triangle-free graph (a path) → empty output
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(Graph.triangleCount(path, "src", "dst").count() == 0)
  }

  test("triangleCount: skewed star+rim — hub counted once per rim triangle") {
    // hub 0 connected to rim 1..6; rim is a cycle → 6 triangles, hub in
    // all 6, each rim node in 3 (two hub triangles + one... compute:
    // triangle (0, i, i+1) for each cycle edge; rim node i is in
    // triangles (0,i-1,i) and (0,i,i+1) → 2 each; hub in 6.
    val rim = (1 to 6).map(i => (i.toLong, (if (i == 6) 1 else i + 1).toLong))
    val star = (1 to 6).map(i => (0L, i.toLong))
    val tc = Graph.triangleCount((rim ++ star).toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc(0L) == 6L && (1 to 6).forall(i => tc(i.toLong) == 2L), s"got $tc")
  }

  // kCore peels on the driver under the broadcast row bound (the default
  // 10 MB threshold) and in Spark with broadcast disabled
  private val kCorePaths = Seq("10485760", "-1")
  private def onKCorePath[T](threshold: String)(body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold)(body)
  private def peeledOnDriver(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("kCore: cascade peels the tail, core degrees reported, strict guard") {
    // lollipop: K5 (ids 1-5, deg 4) + tail 5-6-7-8. 2-core: the tail
    // peels back node by node (8 first, then 7, then 6 — a 3-round
    // cascade, plus the round that finds nothing left to peel), K5
    // survives with in-core degree 4.
    val k5 = (for { a <- 1 to 5; b <- 1 to 5 if a < b } yield (a.toLong, b.toLong))
    val tail = Seq((5L, 6L), (6L, 7L), (7L, 8L))
    val g = (k5 ++ tail).toDF("src", "dst")
    for (thr <- kCorePaths) onKCorePath(thr) {
      val core = Graph.kCore(g, "src", "dst", k = 2)
      assert(peeledOnDriver(core) == (thr != "-1"), s"threshold $thr")
      val out = asMap(core)
      assert(out == Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 4L),
        s"threshold $thr: got $out")
      graft.core.Checkpoints.release(core)
      // whole graph unravels at k above the max core
      assert(Graph.kCore(tail.toDF("src", "dst"), "src", "dst", k = 2).count() == 0)
      // strict: a cascade deeper than maxIter must throw, not return junk;
      // the fixpoint round counts, so 3 rounds are one short
      for (rounds <- Seq(1, 3)) intercept[IllegalStateException] {
        Graph.kCore(g, "src", "dst", k = 2, maxIter = rounds)
      }
      assert(asMap(Graph.kCore(g, "src", "dst", k = 2, maxIter = 4)) == out)
      // non-strict: the degrees after one round (8 peeled, 7 left at 1)
      val partial = asMap(Graph.kCore(g, "src", "dst", k = 2, maxIter = 1,
        strict = false))
      assert(partial == Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 5L,
        6L -> 2L, 7L -> 1L), s"threshold $thr: got $partial")
    }
  }

  test("kCore: the capped edge collect picks the path at the row bound") {
    // the bound is threshold / 16 CANONICAL edges: the lollipop has 13,
    // whatever the reversed duplicates and self-loop in the raw rows
    val g = lollipop.unionAll(lollipop.select(col("dst"), col("src")))
      .unionAll(Seq((3L, 3L)).toDF("src", "dst"))
    val want = Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 4L)
    for ((edgesUnderBound, onDriver) <- Seq(13 -> true, 12 -> false))
      onKCorePath((16 * edgesUnderBound).toString) {
        val core = Graph.kCore(g, "src", "dst", k = 2)
        assert(peeledOnDriver(core) == onDriver, s"bound $edgesUnderBound")
        assert(asMap(core) == want, s"bound $edgesUnderBound")
        assert(core.schema == Graph.kCore(g, "src", "dst", k = 2,
          materialize = false).schema)
        graft.core.Checkpoints.release(core)
      }
    // binary ids have no value equality on the driver: always distributed
    val bin = g.select(col("src").cast("string").cast("binary").as("src"),
      col("dst").cast("string").cast("binary").as("dst"))
    val binCore = Graph.kCore(bin, "src", "dst", k = 2)
    assert(!peeledOnDriver(binCore))
    assert(binCore.collect().map(r => new String(r.getAs[Array[Byte]](0)).toLong ->
      r.getLong(1)).toMap == want)
    graft.core.Checkpoints.release(binCore)
  }

  test("kCore on a broadcast-sized graph runs a fixed number of jobs, whatever the peel depth") {
    // a chain at k = 2 peels from both ends, two nodes a round: the
    // 64-node chain takes 32 rounds, the 16-node one 8
    def jobsFor(nodes: Long): Int = {
      val chain = (1L until nodes).map(i => (i, i + 1)).toDF("src", "dst")
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      waitListenerBus()
      spark.sparkContext.addSparkListener(listener)
      val core =
        try {
          val c = Graph.kCore(chain, "src", "dst", k = 2)
          waitListenerBus()
          c
        } finally spark.sparkContext.removeSparkListener(listener)
      assert(core.isEmpty, s"the $nodes-node chain has no 2-core")
      jobs.get
    }
    val deep = jobsFor(64)
    assert(deep <= 4, s"kCore ran $deep jobs on the 64-node chain")
    assert(jobsFor(16) == deep, "kCore's job count grew with the peel depth")
  }

  test("connectedComponents labels a chain by its minimum id") {
    val edges = Seq((5L, 3L), (3L, 9L), (20L, 21L)).toDF("src", "dst")
    val cc = Graph.connectedComponents(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L),
      s"got $cc")
  }

  // --- round 12: materialize escape hatch + checkpoint-release hygiene ---

  private def lollipop = {
    val k5 = for { a <- 1 to 5; b <- 1 to 5 if a < b } yield (a.toLong, b.toLong)
    (k5 ++ Seq((5L, 6L), (6L, 7L), (7L, 8L))).toDF("src", "dst")
  }
  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("materialize = false exposes the lazy DAG; values identical to eager") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val edges = lollipop
    // triangleCount: pure lazy plan — joins visible, no checkpoint scan
    val tcLazy = Graph.triangleCount(edges, "src", "dst", materialize = false)
    assert(tcLazy.queryExecution.analyzed.collect { case j: Join => j }.nonEmpty,
      "lazy triangleCount should expose its wedge/closing joins")
    assert(!tcLazy.queryExecution.analyzed.exists(_.isInstanceOf[LogicalRDD]))
    assert(asMap(tcLazy) == asMap(Graph.triangleCount(edges, "src", "dst")))
    // kCore (r17 shrink-frame peel): the final in-core degree pass stays
    // a LIVE aggregate over the final edge checkpoint — no join remains
    // in the lazy plan because the peel now shrinks the edge frame
    // itself (anti-joins happen inside the loop's checkpointed rounds)
    val kcLazy = Graph.kCore(edges, "src", "dst", k = 2, materialize = false)
    assert(kcLazy.queryExecution.analyzed.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.nonEmpty,
      "lazy kCore should expose the degree aggregate")
    assert(asMap(kcLazy) == asMap(Graph.kCore(edges, "src", "dst", k = 2)))
    // connectedComponents: one identity-at-fixpoint propagation round,
    // lazy — per-round join/agg DAG visible, labels unchanged
    val ccLazy = Graph.connectedComponents(edges, "src", "dst", materialize = false)
    assert(ccLazy.queryExecution.analyzed.collect { case j: Join => j }.nonEmpty,
      "lazy connectedComponents should expose the propagation round")
    assert(asMap(ccLazy) == asMap(Graph.connectedComponents(edges, "src", "dst")))
  }

  test("Checkpoints.release frees localCheckpoint blocks (Dataset.unpersist alone can't)") {
    import org.apache.spark.sql.execution.LogicalRDD
    val df = spark.range(100).toDF("v").localCheckpoint()
    val rddId = df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
      "localCheckpoint should pin its RDD")
    df.unpersist(blocking = true) // the trap: no-op for checkpoints
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
      "Dataset.unpersist must NOT be assumed to free checkpoint blocks")
    graft.core.Checkpoints.release(df)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId),
      "release must free the checkpointed RDD's blocks")
  }

  test("iterative loops release superseded rounds: at most one block set survives") {
    def pinnedIds = spark.sparkContext.getPersistentRDDs.keySet
    // a 64-node chain needs several pointer-doubling rounds; before the
    // r12 fix each round left one pinned checkpoint behind
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
    val before = pinnedIds
    val cc = Graph.connectedComponents(chain, "src", "dst")
    assert(cc.count() == 64)
    val leakedCc = (pinnedIds -- before).size
    assert(leakedCc <= 1, s"connectedComponents left $leakedCc pinned RDDs " +
      "(expected only the returned frame's checkpoint)")
    graft.core.Checkpoints.release(cc)
    // r13 (r12 ADVICE): the release must actually SHRINK the pinned set.
    // cc is a Project (withColumnRenamed) OVER the final checkpoint, so
    // the old root-only LogicalRDD match made release(cc) a silent no-op
    // — and this test, asserting nothing after the call, masked it.
    assert((pinnedIds -- before).isEmpty,
      "release(connectedComponents result) must free the final round's " +
        s"checkpoint blocks; still pinned: ${pinnedIds -- before}")
    // kCore's distributed loop on the lollipop peels a 3-round cascade;
    // same discipline (the driver path pins nothing)
    val before2 = pinnedIds
    val kc = onKCorePath("-1")(Graph.kCore(lollipop, "src", "dst", k = 2))
    assert(kc.count() == 5)
    val leakedKc = (pinnedIds -- before2).size
    assert(leakedKc <= 1, s"kCore left $leakedKc pinned RDDs")
    graft.core.Checkpoints.release(kc)
    assert((pinnedIds -- before2).isEmpty,
      s"release(kCore result) must free its blocks; still pinned: ${pinnedIds -- before2}")
    // dupClusters shares cc's Project-over-checkpoint return shape
    val before3 = pinnedIds
    val pairs = (1L until 20L).map(i => (i, i + 1)).toDF("id1", "id2")
    val dc = graft.pipeline.Dedup.dupClusters(pairs)
    assert(dc.count() == 20)
    graft.core.Checkpoints.release(dc)
    assert((pinnedIds -- before3).isEmpty,
      s"release(dupClusters result) must free its blocks; still pinned: ${pinnedIds -- before3}")
  }
}
