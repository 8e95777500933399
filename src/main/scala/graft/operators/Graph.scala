package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

/** Graph analytics over edge frames (extension — the reference has no
  * graph surface; its nearest neighbor is this repo's pointer-doubling
  * connected components in `pipeline/Dedup.dupClusters`).
  *
  * PageRank here is FIXED-POINT INTEGER arithmetic by design: ranks are
  * integer micro-units, contributions use floor division, so every sum
  * is order-independent and the result is bit-identical on any engine —
  * the same determinism contract the rest of the driver oracles rely on
  * (floating-point PageRank is unverifiable across engines: group-sum
  * order changes the low bits).
  */
object Graph {

  /** `iterations` rounds of damped PageRank over `edges` (src, dst).
    * Ranks start at `scale` (micro-units); each round every node emits
    * `pr div outdeg` along its out-edges and collects
    * `base + damping% · Σ contributions / 100` (integer floor at both
    * divisions). Nodes = src ∪ dst; dangling nodes (no out-edges)
    * contribute nothing (their mass evaporates — the standard simple
    * variant; build symmetric edges for undirected graphs and none are
    * dangling).
    *
    * Scale shape per round: one join of edges to the O(nodes) rank
    * frame on src (both hash-partitioned on the join key; the rank side
    * is the small one and broadcasts when it fits), one partial-agg
    * groupBy dst — shuffled bytes O(edges) worst case, O(nodes) after
    * map-side combine. Ranks persist per round (the previous round
    * unpersists); `iterations` is the driver-loop budget exactly like
    * `bpeTrain`'s merge count. The RETURNED frame is the final round's
    * persisted ranks — already materialized, so reads are free; the
    * caller owns `unpersist()` when done (dropping the cache inside
    * this method would discard the materialization it just paid for).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, dampingPct: Int = 85,
               scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1 && dampingPct >= 0 && dampingPct <= 100)
    // r17 opt (guide §2.4): persist the edge frame HASH-PARTITIONED on
    // the per-round join key — every iteration's e⋈pr and e⋈deg joins
    // and the deg aggregate then reuse this one exchange, so the O(m)
    // edge frame never reshuffles again; only the O(nodes) rank frame
    // moves per round. (Previously each round re-exchanged the full
    // edge frame for both joins.)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = (100L - dampingPct) * scale / 100L
    var pr = nodes.withColumn("pr", lit(scale))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r15 persist audit: a mid-loop failure (lost executor, cancelled
    // job) must not leak the round caches into the caller's session —
    // e/nodes release on EVERY exit path; pr releases on the throw path
    // only (on success it IS the returned materialization, caller-owned)
    try {
      for (_ <- 0 until iterations) {
        val contribs = e
          .join(pr.withColumnRenamed("node", "src"), "src")
          .join(deg, "src")
          .select(col("dst").as("node"), expr("pr div outdeg").as("c"))
          .groupBy("node").agg(sum("c").as("contrib"))
        val next = nodes
          .join(contribs, Seq("node"), "left")
          .select(col("node"),
            (lit(base) + expr(s"($dampingPct * coalesce(contrib, 0L)) div 100"))
              .as("pr"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count() // materialize before dropping the parent
        pr.unpersist(blocking = false)
        pr = next
      }
      pr
    } catch {
      case t: Throwable => pr.unpersist(blocking = false); throw t
    } finally {
      e.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
  }

  /** Weighted [[pageRank]]: each out-edge carries an integer weight and
    * a node's rank splits proportionally — contribution along (s, d, w)
    * is `(pr · w) div Σ_s w` (integer floor, order-independent sums, so
    * the same bit-identical-on-any-engine contract as the unweighted
    * form). Duplicate (src, dst) rows sum their weights;
    * non-positive-weight edges drop. Caller must keep
    * `max(pr) · max(w) < 2^63` — with the default scale (10⁶ micro-units
    * per node) that allows edge weights into the hundreds of millions
    * before any overflow risk. Same per-round shape and persist
    * discipline as [[pageRank]].
    */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iterations: Int,
                       dampingPct: Int = 85, scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1 && dampingPct >= 0 && dampingPct <= 100)
    // src-partitioned persist — the pageRank r17 shuffle-reuse shape
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("w") > 0)
      .groupBy("src", "dst").agg(sum("w").as("w"))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy("src").agg(sum("w").as("sw"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = (100L - dampingPct) * scale / 100L
    var pr = nodes.withColumn("pr", lit(scale))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // same exit-path release discipline as [[pageRank]] (r15 audit)
    try {
      for (_ <- 0 until iterations) {
        val contribs = e
          .join(pr.withColumnRenamed("node", "src"), "src")
          .join(deg, "src")
          .select(col("dst").as("node"), expr("(pr * w) div sw").as("c"))
          .groupBy("node").agg(sum("c").as("contrib"))
        val next = nodes
          .join(contribs, Seq("node"), "left")
          .select(col("node"),
            (lit(base) + expr(s"($dampingPct * coalesce(contrib, 0L)) div 100"))
              .as("pr"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count()
        pr.unpersist(blocking = false)
        pr = next
      }
      pr
    } catch {
      case t: Throwable => pr.unpersist(blocking = false); throw t
    } finally {
      e.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999, public knowledge) over
    * the DIRECTED graph — the link-analysis companion of [[pageRank]]:
    * per iteration, a node's authority is the sum of its in-neighbors'
    * hub scores and its hub score the sum of its out-neighbors'
    * authorities, each vector max-normalized back to `scale`. Same
    * cross-engine-deterministic discipline as the PageRank pair:
    * scores live in integer micro-units, the neighbor sums are exact
    * long aggregates (order-independent), and the max normalization is
    * `floor(raw · scale / max)` computed in DOUBLE with a fixed
    * operand order — identical IEEE ops on any engine, no i64 overflow
    * at any in-degree (exactness caveat: raw sums beyond 2^53 lose low
    * bits, identically on both sides). Nodes outside an iteration's
    * frontier score 0 (a source has authority 0, a sink hub 0).
    * Output: (node, auth, hub) longs; max of each column = `scale`
    * whenever any edge exists.
    *
    * Scale shape: per iteration two edge-keyed join+aggregate rounds
    * plus two SINGLE-ROW max aggregates to the driver (the documented
    * scalar-collect class — 2·iterations rows total, injected back as
    * literals so the plan stays deterministic). Same per-round persist
    * /release discipline as [[pageRank]] (r15 audit).
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int, scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"hits: iterations must be >= 1, got $iterations")
    require(scale >= 1, s"hits: scale must be >= 1, got $scale")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def normalized(raw: DataFrame, rawCol: String, outCol: String): DataFrame = {
      val mx = raw.agg(coalesce(max(col(rawCol)), lit(0L))).first().getLong(0)
      val v = if (mx > 0L)
        floor(coalesce(col(rawCol), lit(0L)).cast("double") * scale /
          lit(mx.toDouble)).cast("long")
      else lit(0L)
      nodes.join(raw, Seq("node"), "left").select(col("node"), v.as(outCol))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    var hub = nodes.withColumn("hub", lit(scale))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var auth: DataFrame = null
    try {
      for (_ <- 0 until iterations) {
        val araw = e.join(hub.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("ar"))
        val nextAuth = normalized(araw, "ar", "auth")
        nextAuth.count()
        if (auth != null) auth.unpersist(blocking = false)
        auth = nextAuth
        val hraw = e.join(auth.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node")).agg(sum(col("auth")).as("hr"))
        val nextHub = normalized(hraw, "hr", "hub")
        nextHub.count()
        hub.unpersist(blocking = false)
        hub = nextHub
      }
      // materialize the result, then release the iteration frames — the
      // returned frame is the caller-owned persisted materialization
      // (the pageRank contract)
      val out = nodes.join(auth, Seq("node"), "left")
        .join(hub, Seq("node"), "left")
        .select(col("node"), coalesce(col("auth"), lit(0L)).as("auth"),
          coalesce(col("hub"), lit(0L)).as("hub"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      auth.unpersist(blocking = false)
      hub.unpersist(blocking = false)
      out
    } catch {
      case t: Throwable =>
        if (auth != null) auth.unpersist(blocking = false)
        hub.unpersist(blocking = false)
        throw t
    } finally {
      e.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
  }

  /** Per-node triangle counts over the undirected graph induced by
    * `edges` (direction and duplicates are erased; self-loops dropped).
    * Output: (node, triangles) for every node in ≥ 1 triangle.
    *
    * The scale device is DEGREE ORIENTATION: each undirected edge is
    * directed from its (degree, id)-smaller endpoint to the larger, which
    * caps every node's out-degree at O(√m) on any graph (a node of
    * out-degree d has d neighbors of degree ≥ its own, so d² ≤ 2m). The
    * wedge join (e1.dst = e2.src over oriented edges) therefore produces
    * Σ outdeg² ≤ O(m^1.5) candidate wedges instead of the Σ deg²
    * (quadratic on skewed graphs) a naive neighbor join pays, and each
    * triangle is generated exactly once. The closing check is one more
    * equi-join of wedges against the oriented edge set — three
    * edge-partitioned hash joins total, no all-pairs stage anywhere.
    * Counting then explodes each triangle's 3 corners (3 rows per
    * triangle, map-side combined before the final O(nodes) aggregate).
    *
    * Result is orientation-independent (the triangle SET is a property of
    * the undirected graph), so oracles may replay the simpler id-ordered
    * a<b<c formulation.
    */
  /** `materialize = true` (default) persists the edge frames across
    * their multiple plan references and returns an eagerly checkpointed
    * result (release via [[graft.core.Checkpoints.release]]); `false`
    * returns the pure lazy plan with NO persist/checkpoint anywhere —
    * for plan inspection and for composing into a larger DAG that
    * manages its own materialization (the oriented edge frame is then
    * referenced three times and recomputes per reference).
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String,
                    materialize: Boolean = true): DataFrame = {
    def mat(df: DataFrame): DataFrame =
      if (materialize) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    val canon = mat(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient each edge toward the (deg, id)-larger endpoint
    val withDeg = canon
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
    val oriented = mat(withDeg.select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("u"),
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("v")))
    // r17 opt (guide §3.1): hint SHUFFLED HASH for the wedge and closing
    // joins — sort-merge would SORT the O(m^1.5) wedge stream; hashing
    // the O(m) oriented edge side instead streams the wedges unsorted.
    // Build side per partition is m/shuffle-partitions oriented edges
    // (two longs each), well inside execution memory at any scale where
    // the partition count tracks the input (AQE skew-split still applies)
    val wedges = oriented.select(col("u").as("x"), col("v").as("y"))
      .join(oriented.select(col("u").as("y"), col("v").as("z")).hint("shuffle_hash"), "y")
    val triangles = wedges
      .join(oriented.select(col("u").as("x"), col("v").as("z")).hint("shuffle_hash"),
        Seq("x", "z"))
    val counts = triangles
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    if (!materialize) counts
    else {
      // materialize BEFORE dropping the edge caches — dropping them
      // under the lazy plan would silently recompute everything; the
      // finally also releases them when the checkpoint THROWS (r15
      // persist audit)
      try counts.localCheckpoint()
      finally {
        canon.unpersist(blocking = false)
        oriented.unpersist(blocking = false)
      }
    }
  }

  /** k-core of the undirected graph induced by `edges`: the maximal
    * subgraph where every node has degree ≥ k inside the subgraph —
    * the classic peeling filter (web-graph quality/spam cores, social
    * cohesion). Output: (node, core_deg) for every surviving node, with
    * its degree INSIDE the core. Direction, duplicates, and self-loops
    * are erased first.
    *
    * Peeling is the fixpoint of "drop nodes with alive-degree < k" —
    * deterministic regardless of execution order (the k-core is unique;
    * batch peeling reaches it). Rounds needed = the cascade depth plus
    * the round that finds no node to drop, graph-dependent: `strict =
    * true` (default) throws past `maxIter` rather than returning a
    * silently-unfinished core; `strict = false` returns the degrees
    * after `maxIter` rounds.
    *
    * Two paths, split by the broadcast row bound (the session's
    * `autoBroadcastJoinThreshold` at ≈16 B per row):
    *  - driver: with `materialize = true`, the canonical edge list is
    *    collected ONCE, capped at bound + 1 rows. If it fits, the peel
    *    runs in memory over dense int ids and int adjacency arrays
    *    (Batagelj & Zaversnik's O(m) cores decomposition, kept round by
    *    round so `maxIter` and `strict` act as on the distributed path)
    *    and the result is a local frame with no checkpoint to release. A graph
    *    under the bound is one a broadcast join would already hold on
    *    the driver; peeling it in Spark costs several jobs per round.
    *  - distributed: a graph over the bound, broadcast disabled
    *    (threshold ≤ 0) or `materialize = false`. Each round is one
    *    degree aggregate over the current symmetric edge frame (eagerly
    *    checkpointed) plus two anti-joins against the nodes peeled that
    *    round, broadcast when that frontier is under the bound. The
    *    superseded round's blocks are released as soon as the next
    *    round materializes, so a deep cascade pins one block set at a
    *    time.
    *
    * `materialize = true` (default) returns the final in-core degree
    * pass eagerly materialized (release via
    * [[graft.core.Checkpoints.release]], a no-op on the driver path);
    * `false` returns it as the lazy degree aggregate over the final
    * checkpointed edge frame, inspectable by plan pins.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIter: Int = 50, strict: Boolean = true,
            materialize: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // r18 (ADVICE): the broadcast row bound derives from the session's
    // autoBroadcastJoinThreshold (≈16 B per built hash-relation row,
    // conservative) — a small deployment's driver is protected by its
    // own configured threshold, and auto-broadcast disabled (≤ 0)
    // disables both the forced frontier broadcast and the driver peel.
    val bcastRows = {
      val thr = edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      if (thr <= 0) 0L else thr / 16L
    }
    // the adjacency array holds 2 entries per edge
    val localCap = math.min(bcastRows, Int.MaxValue / 2 - 1).toInt
    // binary ids have no value equality on the driver (Array[Byte])
    val nodeField = canon.schema("a").copy(name = "node")
    val localEdges =
      if (!materialize || localCap <= 0 || nodeField.dataType == BinaryType) None
      else Some(canon.limit(localCap + 1).collect()).filter(_.length <= localCap)
    localEdges match {
      case Some(rows) =>
        val core = peelLocal(rows, k, maxIter, strict)
        val schema = StructType(Seq(nodeField,
          StructField("core_deg", LongType, nullable = false)))
        edges.sparkSession.createDataFrame(java.util.Arrays.asList(core: _*), schema)
      case None => peelDistributed(canon, k, maxIter, strict, materialize, bcastRows)
    }
  }

  /** The driver path of [[kCore]]: batch-peel canonical (a, b) edge rows
    * in memory, one round at a time, exactly as the distributed loop
    * does — a round drops every node whose alive degree is in [1, k);
    * a node left with no alive edge drops out silently; the round that
    * finds nothing to drop is the fixpoint and counts toward `maxIter`.
    * Each round touches only the peeled nodes' adjacency, so the whole
    * peel is O(nodes + edges).
    */
  private def peelLocal(rows: Array[Row], k: Int, maxIter: Int,
                        strict: Boolean): Array[Row] = {
    val ids = scala.collection.mutable.HashMap.empty[Any, Int]
    val keys = scala.collection.mutable.ArrayBuffer.empty[Any]
    def idOf(v: Any): Int = ids.getOrElseUpdate(v, { keys += v; keys.length - 1 })
    val m = rows.length
    val ea = new Array[Int](m)
    val eb = new Array[Int](m)
    var i = 0
    while (i < m) { ea(i) = idOf(rows(i).get(0)); eb(i) = idOf(rows(i).get(1)); i += 1 }
    val n = keys.length
    val deg = new Array[Int](n)
    i = 0
    while (i < m) { deg(ea(i)) += 1; deg(eb(i)) += 1; i += 1 }
    // CSR adjacency: node v's neighbours are adj(off(v) until off(v + 1))
    val off = new Array[Int](n + 1)
    var v = 0
    while (v < n) { off(v + 1) = off(v) + deg(v); v += 1 }
    val fill = java.util.Arrays.copyOf(off, n)
    val adj = new Array[Int](2 * m)
    i = 0
    while (i < m) {
      adj(fill(ea(i))) = eb(i); fill(ea(i)) += 1
      adj(fill(eb(i))) = ea(i); fill(eb(i)) += 1
      i += 1
    }
    val gone = new Array[Boolean](n)
    // invariant at each round start: frontier = the alive nodes with
    // degree in [1, k); every other alive node has degree ≥ k or 0
    var frontier = (0 until n).filter(deg(_) < k).toArray
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      if (frontier.isEmpty) converged = true
      else {
        frontier.foreach(gone(_) = true)
        val next = scala.collection.mutable.ArrayBuilder.make[Int]
        for (d <- frontier; j <- off(d) until off(d + 1)) {
          val u = adj(j)
          if (!gone(u)) {
            deg(u) -= 1
            if (deg(u) == k - 1) next += u // crossed below k: once per node
          }
        }
        frontier = next.result().filter(deg(_) > 0)
      }
      iter += 1
    }
    if (!converged && strict) throw notConverged(maxIter)
    (0 until n).iterator.filter(u => !gone(u) && deg(u) > 0)
      .map(u => Row(keys(u), deg(u).toLong)).toArray
  }

  private def notConverged(maxIter: Int) = new IllegalStateException(
    s"kCore: not converged after $maxIter peel rounds; raise maxIter " +
      "(or pass strict = false to accept a partially peeled graph)")

  /** The distributed path of [[kCore]] over the canonical edge frame. */
  private def peelDistributed(canon: DataFrame, k: Int, maxIter: Int,
                              strict: Boolean, materialize: Boolean,
                              bcastRows: Long): DataFrame = {
    val sym = canon.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(canon.select(col("b").as("src"), col("a").as("dst")))
    // r17 opt (guide §2.4): peel by SHRINKING THE EDGE FRAME instead of
    // re-joining the full edge list against the alive node set. Each
    // round pays the degree aggregate over the CURRENT (monotonically
    // shrinking) edge frame plus two anti-joins against the dead
    // FRONTIER (the nodes peeled this round: frontier-sized, broadcast
    // below the row bound; a pathological all-at-once peel falls back
    // to a regular anti-join). Results identical: the frame maintains
    // the both-endpoints-alive invariant, so groupBy(src) IS the
    // in-core degree, and peeling is order-independent (the k-core is
    // unique).
    var alive = sym.localCheckpoint()
    var result: DataFrame = null
    // r18 (ADVICE): the CURRENT round's checkpoints are tracked so the
    // catch can release them — an exception between deg's checkpoint and
    // its release (dead.count(), the anti-join checkpoint) previously
    // leaked that round's blocks until GC
    var roundDeg: DataFrame = null
    var roundNext: DataFrame = null
    var iter = 0
    try {
      while (result == null && iter < maxIter) {
        val deg = alive.groupBy("src").agg(count(lit(1)).as("core_deg"))
          .localCheckpoint()
        roundDeg = deg
        val dead = deg.filter(col("core_deg") < k).select(col("src").as("__dead"))
        val nDead = dead.count()
        if (nDead == 0L) {
          // fixpoint: every remaining endpoint has in-core degree ≥ k —
          // deg (already materialized) IS the answer
          result = deg.select(col("src").as("node"), col("core_deg"))
        } else {
          // broadcast the frontier when it is clearly broadcast-sized;
          // otherwise let the planner shuffle (only giant peel rounds)
          val d = if (nDead <= bcastRows) broadcast(dead) else dead
          val next = alive
            .join(d, col("src") === col("__dead"), "left_anti")
            .join(d, col("dst") === col("__dead"), "left_anti")
            .localCheckpoint()
          roundNext = next
          graft.core.Checkpoints.release(alive) // superseded round
          graft.core.Checkpoints.release(deg)
          roundDeg = null
          alive = next
          roundNext = null
        }
        iter += 1
      }
      if (result == null && strict) throw notConverged(maxIter)
      if (!materialize) {
        // lazy: the final degree pass as a LIVE aggregate over the final
        // edge checkpoint (the per-round DAG shape, inspectable by plan
        // pins). The edge checkpoint stays pinned for the caller's reads
        // — the old lazy contract; the ContextCleaner reclaims it. The
        // loop's own final deg checkpoint has no reader here: release it.
        if (result != null) graft.core.Checkpoints.release(result)
        alive.groupBy("src").agg(count(lit(1)).as("core_deg"))
          .select(col("src").as("node"), col("core_deg"))
      } else {
        // eager: the (already materialized) final degree pass; the edge
        // frame has no remaining reader
        val out =
          if (result != null) result
          else alive.groupBy("src").agg(count(lit(1)).as("core_deg"))
            .select(col("src").as("node"), col("core_deg"))
            .localCheckpoint() // unconverged non-strict: one more pass
        graft.core.Checkpoints.release(alive)
        out
      }
    } catch {
      case t: Throwable =>
        graft.core.Checkpoints.release(alive)
        if (roundDeg != null) graft.core.Checkpoints.release(roundDeg)
        if (roundNext != null && (roundNext ne alive))
          graft.core.Checkpoints.release(roundNext)
        throw t
    }
  }

  /** Connected components of the undirected graph induced by `edges`:
    * (id, cluster_id) for every node incident to an edge, cluster_id =
    * the component's minimum node id. Delegates to the pointer-doubling
    * min-label core ([[graft.pipeline.Dedup.dupClusters]] — one-hop min
    * propagation + label-of-label per round, O(log diameter) rounds,
    * each round two edge-partitioned shuffles) — the general-graph face
    * of the same operator the dedup pipeline uses for cluster labels.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20, strict: Boolean = true,
                          materialize: Boolean = true): DataFrame =
    graft.pipeline.Dedup.dupClusters(
      edges.select(col(srcCol).as("id1"), col(dstCol).as("id2")),
      maxIter = maxIter, strict = strict, materialize = materialize)
}
