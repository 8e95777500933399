package ddfbench

import graft.core.{DDF, DDFManager}
import graft.operators.{Graph, Views}
import graft.pipeline.{Dedup, Dsir, SetJoin, TextAnalysis}
import graft.sources.Manifest
import graft.stats.Stats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one call produced: a frame digest from the benchmark's sink, or a
  * driver-side value (as JSON) that the harness rounds and hashes.
  */
sealed trait Out
final case class FrameOut(rows: Long, xor: Long) extends Out
final case class ValueOut(json: String) extends Out

/** One op: a call into the library plus its sink. `run` opens a span per
  * call, labelled with the module that implements the call (a DDF facade
  * call is labelled by its delegate); the sink is the `sink` layer.
  */
final case class Op(name: String, run: Spans => Out)

/** Everything an op may touch: the session, the registered tables and a
  * scratch directory inside the checkout.
  */
final class Ctx(val spark: SparkSession, val m: DDFManager, val dataDir: String,
                val scratch: String) {
  def t(name: String): DDF = m.getDDFByName(name)
  private var n = 0
  def freshDir(prefix: String): String = { n += 1; s"$scratch/$prefix-$n" }
}

/** The three workloads. The seed picks every op's parameters once per run
  * and the op order of every cycle; the library sees only the calls.
  */
object Workloads {
  val Names = Seq("analyst_session", "curation_build", "scan_x10")

  def sink(tr: Spans, df: DataFrame): Out = tr.span("sink", "sink") {
    val (rows, xor) = Digest.frame(df)
    FrameOut(rows, xor)
  }
  def value(v: Any): Out = ValueOut(Json.value(v))

  def ops(workload: String, c: Ctx, rng: scala.util.Random): Seq[Op] = workload match {
    case "analyst_session" => analyst(c, rng)
    case "curation_build" => curation(c, rng)
    case "scan_x10" => scanX10(c, rng)
  }

  private def oneOf[T](rng: scala.util.Random, xs: T*): T = xs(rng.nextInt(xs.size))

  /** sf0.1 interactive DDF API use: one call plus its sink per op. */
  def analyst(c: Ctx, rng: scala.util.Random): Seq[Op] = {
    // constants move within narrow bands, so every seed does about the same work
    val qty = 30 + rng.nextInt(6)
    val disc = rng.nextInt(3) / 100.0
    val since = f"1997-${1 + rng.nextInt(12)}%02d-01"
    val groupCol = oneOf(rng, "l_returnflag", "l_linestatus", "l_linenumber")
    val joinType = oneOf(rng, "inner", "left")
    val numCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val summaryCols = rng.shuffle(numCols).take(3)
    val statCol = oneOf(rng, "l_quantity", "l_extendedprice")
    val binCol = oneOf(rng, "l_extendedprice", "l_quantity", "l_tax")
    val bins = 5 + rng.nextInt(16)
    val ps = Seq(0.1, 0.5, 0.9).map(p => p + rng.nextInt(9) / 100.0)
    val naHow = oneOf(rng, "any", "all")
    val fill = rng.nextInt(100).toDouble
    val topN = 40 + rng.nextInt(21)
    val topCol = oneOf(rng, "l_extendedprice", "l_quantity", "l_shipdate")
    val sampleN = 400 + rng.nextInt(201)
    val corr = oneOf(rng, ("l_quantity", "l_extendedprice"), ("l_discount", "l_tax"))
    val headN = 20 + rng.nextInt(11)
    def li = c.t("lineitem")
    // frame-returning ops work on the columns they need plus the row key,
    // so the sink hashes what the call produced rather than all of lineitem
    def keyed(cols: Seq[String]) = li.project(("l_orderkey" +: "l_linenumber" +: cols): _*)
    Seq(
      Op("sql_filter_agg", tr => sink(tr, tr.span("sql2ddf", "sql")(c.m.sql2ddf(
        s"""select l_returnflag, l_linestatus, count(*) as n, sum(l_quantity) as qty,
           |  avg(l_extendedprice) as price from lineitem
           |where l_quantity <= $qty and l_discount >= $disc
           |group by l_returnflag, l_linestatus""".stripMargin)).df)),
      Op("sql_join", tr => sink(tr, tr.span("sql2ddf", "sql")(c.m.sql2ddf(
        s"""select c_mktsegment, o_orderpriority, count(*) as n, sum(o_totalprice) as total
           |from orders join customer on o_custkey = c_custkey
           |where o_orderdate >= timestamp '$since 00:00:00'
           |group by c_mktsegment, o_orderpriority""".stripMargin)).df)),
      Op("groupBy", tr => sink(tr, tr.span("groupBy", "operators")(
        li.groupBy(Seq(groupCol), Seq("n=count(*)", "qty=sum(l_quantity)",
          "price=avg(l_extendedprice)"))).df)),
      Op("join", tr => sink(tr, tr.span("join", "operators")(
        c.t("orders").join(c.t("customer"), joinType,
          byLeft = Seq("o_custkey"), byRight = Seq("c_custkey"))).df)),
      Op("getSummary", tr => value(tr.span("getSummary", "stats")(
        li.project(summaryCols: _*).getSummary))),
      Op("getFiveNumSummary", tr => value(tr.span("getFiveNumSummary", "stats")(
        li.getFiveNumSummary(statCol)))),
      Op("getVectorQuantiles", tr => value(tr.span("getVectorQuantiles", "stats")(
        li.getVectorQuantiles(statCol, ps)))),
      Op("getVectorHistogram", tr => value(tr.span("getVectorHistogram", "stats")(
        li.getVectorHistogram(binCol, bins)))),
      Op("binning", tr => sink(tr, tr.span("binning", "operators")(
        keyed(Seq(binCol)).binning(binCol, "EQUALINTERVAL", numBins = bins)).df)),
      Op("dropNA", tr => sink(tr, tr.span("dropNA", "operators")(
        c.t("customer_na").dropNA(naHow)).df)),
      Op("fillNA", tr => sink(tr, tr.span("fillNA", "operators")(
        c.t("customer_na").fillNA(fill, Seq("c_acctbal"))).df)),
      Op("transformScaleStandard", tr => sink(tr, tr.span("transformScaleStandard", "operators")(
        keyed(summaryCols).transformScaleStandard(summaryCols)).df)),
      Op("top", tr => sink(tr, tr.span("top", "operators")(li.top(topN, topCol)).df)),
      Op("getRandomSample", tr => sink(tr, tr.span("getRandomSample", "operators")(
        li.getRandomSample(sampleN)).df)),
      Op("correlation", tr => value(tr.span("correlation", "operators")(
        li.correlation(corr._1, corr._2)))),
      Op("head", tr => value(tr.span("head", "operators")(li.head(headN)))))
  }

  /** The edge list of the library's `g05_kcore` registry query: 25
    * ten-member cliques plus a {3,5,8}-offset lattice that peels away.
    */
  def g05Edges(customer: DataFrame): DataFrame = {
    val ids = customer.select(col("c_custkey").as("id"))
    val cl = ids.filter(col("id") <= 250).withColumn("g", expr("(id - 1) div 10"))
    val cliques = cl.as("x").join(cl.select(col("id").as("id2"), col("g")).as("y"),
        col("x.g") === col("y.g") && col("x.id") < col("id2"))
      .select(col("x.id").as("src"), col("id2").as("dst"))
    val spark = customer.sparkSession
    import spark.implicits._
    val lattice = ids.filter(col("id") > 250 && col("id") <= 400)
      .crossJoin(broadcast(Seq(3L, 5L, 8L).toDF("o")))
      .select(col("id").as("src"), (col("id") + col("o")).as("dst"))
      .join(ids.filter(col("id") > 250 && col("id") <= 400).select(col("id").as("dst")), "dst")
      .select("src", "dst")
    cliques.unionByName(lattice)
  }

  /** The j04 edit-distance corpus: groups of four 20-letter strings over a
    * 16-letter alphabet, sibling r carrying r planted substitutions.
    */
  def editCorpus(customer: DataFrame): DataFrame = {
    def plant(prev: String, r: Int, shift: Int) = expr(
      s"CASE WHEN r > $r THEN concat(substring($prev, 1, pmod(g*7 + $shift, 20)), " +
        s"chr(97 + pmod(g + $shift, 16)), substring($prev, pmod(g*7 + $shift, 20) + 2, 100)) " +
        s"ELSE $prev END")
    customer.select(col("c_custkey").cast("long").as("k"))
      .withColumn("g", expr("k div 4")).withColumn("r", expr("k % 4"))
      .withColumn("s0", expr("translate(substring(md5(concat('b', cast(g AS string))), 1, 20), " +
        "'0123456789abcdef', 'abcdefghijklmnop')"))
      .withColumn("s1", plant("s0", 0, 0)).withColumn("s2", plant("s1", 1, 5))
      .withColumn("s3", plant("s2", 2, 10))
      .select(col("k"), col("s3").as("name"))
  }

  /** sf0.1 curation items: multi-job operators, eager checkpoints,
    * iterative peels and a parquet publish with read-back.
    */
  def curation(c: Ctx, rng: scala.util.Random): Seq[Op] = {
    val spark = c.spark
    // parameters move within narrow bands, so every seed does about the same work
    val targetMod = oneOf(rng, 7, 11)
    val dsirK = 90 + rng.nextInt(21)
    val minhashT = oneOf(rng, 0.7, 0.8)
    val packBudget = oneOf(rng, 256L, 512L)
    val nameSlice = rng.nextInt(20)
    val budget = 480000L + rng.nextInt(40001)
    Seq(
      Op("p05_chain", tr => {
        val docs = c.t("documents").df
        val sel = tr.span("Dsir.resample", "pipeline")(Dsir.resample(
          docs.filter(col("doc_id") % targetMod =!= 0), docs.filter(col("doc_id") % targetMod === 0),
          "text", "doc_id", k = dsirK, buckets = 4096))
        val picked = docs.join(broadcast(sel.select(col("id").as("doc_id"))), Seq("doc_id"))
        val surv = tr.span("Dedup.exactSurvivors", "pipeline")(
          Dedup.exactSurvivors(picked, "text", "doc_id"))
        val dups = tr.span("Dedup.minhashDedup", "pipeline")(
          Dedup.minhashDedup(surv, "text", "doc_id", threshold = minhashT, portable = true))
        val nodup = surv.join(dups.select(col("id2").as("doc_id")).distinct(), Seq("doc_id"),
          "left_anti")
        val benches = docs.filter(col("doc_id") % 37 === 0).select(
          concat(lit("b"), (col("doc_id") % 3).cast("string")).as("bench_id"), col("text"))
        val clean = tr.span("TextAnalysis.decontaminatedAll", "pipeline")(
          TextAnalysis.decontaminatedAll(nodup, benches, "text", "doc_id", "bench_id", n = 5))
        val ordered = tr.span("TextAnalysis.curriculumOrder", "pipeline")(
          TextAnalysis.curriculumOrder(clean.select(col("doc_id"),
            TextAnalysis.tokenCount("text").cast("double").as("score")),
            "score", "doc_id", cutoffs = Seq(30.0, 60.0, 90.0)))
        val packed = tr.span("TextAnalysis.packChunks", "pipeline")(
          TextAnalysis.packChunks(ordered.select(col("ord").as("id"), lit(0L).as("chunk_id"),
            col("score").cast("long").as("n_tokens"), col("id").as("doc_id")),
            budgetTokens = packBudget, nBuckets = 8))
        val dir = c.freshDir("p05")
        try {
          tr.span("Manifest.writeWithManifestAndProfile", "sources")(
            Manifest.writeWithManifestAndProfile(
              packed.withColumn("shard", shiftright(col("seq_id"), 33)), dir,
              partitionCols = Seq("shard")))
          // the shard file names are random; the check is that none failed
          val verify = tr.span("Manifest.verifyManifest", "sources")(
            Manifest.verifyManifest(spark, dir))
          val bad = sink(tr, verify.filter(!col("ok")))
          // the read-back's footer read is a job of the benchmark's own
          val back = sink(tr, tr.span("read-back", "sink")(spark.read.parquet(dir)).groupBy("seq_id")
            .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
              min(col("id")).as("first_ord"), min("doc_id").as("min_doc_id")))
          value(Seq(bad, back))
        } finally deleteTree(new java.io.File(dir))
      }),
      Op("kcore", tr => {
        val edges = g05Edges(c.t("customer").df)
        sink(tr, tr.span("Graph.kCore", "operators")(Graph.kCore(edges, "src", "dst", k = 6)))
      }),
      Op("edit_join_k2", tr => {
        val names = c.t("customer").df
          .filter(pmod(xxhash64(col("c_custkey")), lit(20)) === nameSlice)
        sink(tr, tr.span("SetJoin.editDistanceJoin", "pipeline")(
          SetJoin.editDistanceJoin(names, "c_name", "c_custkey", maxDist = 2)))
      }),
      Op("edit_join_k3", tr => {
        val corpus = editCorpus(c.t("customer").df)
        sink(tr, tr.span("SetJoin.editDistanceJoin", "pipeline")(
          SetJoin.editDistanceJoin(corpus, "name", "k", maxDist = 3, q = 4)))
      }),
      Op("budget_select", tr => {
        val li = c.t("lineitem").df
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
        sink(tr, tr.span("Views.budgetSelect", "operators")(Views.budgetSelect(li,
          Seq(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc),
          "l_quantity", budget)))
      }))
  }

  /** A TPC-H Q9 shape over the tables, with a seeded part-name colour. The
    * tables have no partsupp; it is derived from the lineitems of the
    * matching parts (the registry's q80 derives it from all of them).
    */
  private def q9Sql(colour: String) =
    s"""with partsupp as (
       |  select l_partkey as ps_partkey, l_suppkey as ps_suppkey,
       |    cast((l_partkey * 7 + l_suppkey * 13) % 99999 as double) / 100.0 as ps_supplycost
       |  from lineitem left semi join part on l_partkey = p_partkey and p_name like '%$colour%'
       |  group by l_partkey, l_suppkey)
       |select nation, o_year, cast(sum(amount) as double) as sum_profit
       |from (
       |  select n_name as nation, year(o_orderdate) as o_year,
       |    cast(cast(l_extendedprice as decimal(18,2)) * cast(1 - l_discount as decimal(18,2))
       |      as decimal(38,4))
       |    - cast(cast(ps_supplycost as decimal(18,2)) * cast(l_quantity as decimal(18,2))
       |      as decimal(38,4)) as amount
       |  from lineitem
       |  join part on p_partkey = l_partkey
       |  join partsupp on ps_partkey = l_partkey and ps_suppkey = l_suppkey
       |  join orders on o_orderkey = l_orderkey
       |  join supplier on s_suppkey = l_suppkey
       |  join nation on s_nationkey = n_nationkey
       |  where p_name like '%$colour%') profit
       |group by nation, o_year""".stripMargin

  /** The tenfold corpus: data-bound scans, shuffling joins and text
    * kernels, with few jobs per op.
    */
  def scanX10(c: Ctx, rng: scala.util.Random): Seq[Op] = {
    val shipCut = f"${1997 + rng.nextInt(4)}-${1 + rng.nextInt(12)}%02d-01"
    val segment = oneOf(rng, "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE", "FURNITURE")
    val q3Date = f"${1996 + rng.nextInt(3)}-${1 + rng.nextInt(12)}%02d-01"
    val colour = oneOf(rng, "red", "blue", "green", "hot", "old")
    val minQty = 1 + rng.nextInt(10)
    val lineNo = 1 + rng.nextInt(3)
    val docSlice = rng.nextInt(20)
    val custSlice = rng.nextInt(4)
    val eventType = oneOf(rng, "click", "view", "purchase")
    val ps = Seq(0.1, 0.25, 0.5, 0.75, 0.9).map(p => p + rng.nextInt(5) / 100.0)
    val nearDup = oneOf(rng, 0.7, 0.8)
    val minDf = 1L + rng.nextInt(3)
    def sql(tr: Spans, q: String) = tr.span("sql2ddf", "sql")(c.m.sql2ddf(q)).df
    Seq(
      Op("tpch_q1", tr => sink(tr, sql(tr,
        s"""select l_returnflag, l_linestatus, count(*) as n,
           |  cast(sum(cast(l_quantity as decimal(18,2))) as double) as sum_qty,
           |  cast(sum(cast(l_extendedprice as decimal(18,2))) as double) as sum_base,
           |  avg(l_discount) as avg_disc
           |from lineitem where l_shipdate <= timestamp '$shipCut 00:00:00'
           |group by l_returnflag, l_linestatus""".stripMargin))),
      Op("tpch_q3", tr => sink(tr, sql(tr,
        s"""select l_orderkey,
           |  cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,2))) as double)
           |    as revenue, o_orderdate, o_orderpriority
           |from customer join orders on c_custkey = o_custkey
           |join lineitem on l_orderkey = o_orderkey
           |where c_mktsegment = '$segment' and o_orderdate < timestamp '$q3Date 00:00:00'
           |  and l_shipdate > timestamp '$q3Date 00:00:00'
           |group by l_orderkey, o_orderdate, o_orderpriority
           |order by revenue desc, o_orderdate, l_orderkey limit 10""".stripMargin))),
      Op("tpch_q9", tr => sink(tr, sql(tr, q9Sql(colour)))),
      Op("join_multikey", tr => {
        val li = c.m.register(c.t("lineitem").df.filter(col("l_linenumber") === lineNo), "lines")
        val parts = c.m.register(li.df.filter(col("l_quantity") >= minQty)
          .groupBy("l_orderkey", "l_linenumber").agg(count(lit(1)).as("n_parts")), "parts")
        sink(tr, tr.span("join", "operators")(li.join(parts, "inner",
          byLeft = Seq("l_orderkey", "l_linenumber"), byRight = Seq("l_orderkey", "l_linenumber")))
          .df.select(col("l.l_orderkey"), col("l.l_linenumber"), col("r.n_parts")))
      }),
      Op("window_runsum", tr => sink(tr, sql(tr,
        s"""select o_custkey, o_orderkey,
           |  cast(sum(cast(o_totalprice as decimal(18,2)))
           |    over (partition by o_custkey order by o_orderkey) as double) as run_total
           |from orders where o_custkey % 4 = $custSlice""".stripMargin))),
      Op("events_hourly", tr => {
        val ev = c.m.register(c.t("events").df
          .withColumn("hour_epoch", unix_timestamp(date_trunc("hour", col("ts"))))
          .withColumn("is_type", (col("event_type") === eventType).cast("int")), "events_hourly")
        sink(tr, tr.span("groupBy", "operators")(ev.groupBy(Seq("hour_epoch", "event_type"),
          Seq("n=count(*)", "hits=sum(is_type)", "total=sum(value)"))).df)
      }),
      Op("quantile_sketch", tr => sink(tr, tr.span("Stats.quantilesFrame", "stats")(
        Stats.quantilesFrame(c.t("lineitem").df, "l_extendedprice", ps)))),
      Op("enrichText", tr => sink(tr, tr.span("enrichText", "pipeline")(
        c.t("documents").enrichText("text")).df)),
      Op("tokenIds", tr => sink(tr, tr.span("tokenIds", "pipeline")(
        c.t("documents").tokenIds("text", "doc_id", minDocFreq = minDf)).df)),
      Op("dedupNearDup", tr => {
        val docs = c.m.register(c.t("documents").df
          .filter(pmod(xxhash64(col("doc_id")), lit(20)) === docSlice), "docs_slice")
        sink(tr, tr.span("dedupNearDup", "pipeline")(
          docs.dedupNearDup("text", "doc_id", nearDup)).df)
      }))
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
