package ddfbench

import graft.core.DDFManager
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set up, run the workload's closed loop,
  * write the raw record (op latencies and outputs, and in a traced run the
  * spans and Spark events) as JSON for the harness to turn into metrics.
  *
  * args: workload seed seconds trace(0|1) workDir outFile; or
  * `prepare workDir base|x10` to write the input tables.
  */
object Main {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Partitions of every scan, shuffle and default-parallelism RDD. It is
    * fixed, not the core count: sampling, approximate quantiles and ties
    * under a limit depend on the partitioning, and the expected digests
    * must hold on any machine.
    */
  val Partitions = 4

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("ddfbench")
      .config("spark.default.parallelism", Partitions.toString)
      .config("spark.sql.leafNodeDefaultParallelism", Partitions.toString)
      .config("spark.sql.shuffle.partitions", Partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Registers the tables of `dir` (and the derived ones the ops use). */
  def register(spark: SparkSession, dir: String, x10Seed: Option[Long]): DDFManager = {
    val m = DDFManager(spark)
    Data.Tables.filter(t => t != "events" && t != "documents")
      .foreach(t => m.loadParquet(s"$dir/$t.parquet", t))
    m.register(spark.read.parquet(s"$dir/events.parquet"), "events")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    m.register(x10Seed.map(Data.x10Documents(docs, _)).getOrElse(docs), "documents")
    // missing values for dropNA / fillNA: about one cell in seven
    val cust = m.getDDFByName("customer").df
    def holed(c: String, salt: Int) =
      when(pmod(xxhash64(lit(salt), col("c_custkey")), lit(7)) === 0, lit(null)).otherwise(col(c))
    m.register(cust.select(col("c_custkey"), holed("c_acctbal", 1).as("c_acctbal"),
      holed("c_nationkey", 2).as("c_nationkey"), holed("c_mktsegment", 3).as("c_mktsegment")),
      "customer_na")
    m
  }

  final case class Rec(name: String, cycle: Int, ms: Double, out: Option[Out], error: String)

  private def recJson(r: Rec): String = Json.obj("name" -> r.name, "cycle" -> r.cycle,
    "ms" -> r.ms, "ok" -> (r.error == null),
    "out" -> Json.Raw(r.out match {
      case Some(FrameOut(rows, xor)) => Json.obj("rows" -> rows, "xor" -> java.lang.Long.toHexString(xor))
      case Some(ValueOut(j)) => Json.obj("value" -> Json.Raw(j))
      case None => "null"
    }),
    "error" -> r.error)

  /** Runs `order` once per cycle; cycles repeat until `seconds` have passed. */
  def loop(cycles: Int => Seq[Op], seconds: Double, tr: Spans): (Seq[Rec], Double, Int) = {
    val recs = ArrayBuffer.empty[Rec]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var c = 0
    while (c == 0 || elapsed < seconds) {
      cycles(c).foreach { op =>
        val s = System.nanoTime()
        val (out, err) =
          try (Some(tr.span(op.name, "op")(op.run(tr))), null)
          catch { case e: Throwable => (None, String.valueOf(e).take(500)) }
        recs += Rec(op.name, c, (System.nanoTime() - s) / 1e6, out, err)
      }
      c += 1
    }
    (recs.toSeq, elapsed, c)
  }

  def baseDir(work: String) = s"$work/data/${Data.Version}"
  def x10Dir(work: String) = s"$work/data/x10-${Data.Version}"

  /** Writes the input tables once per checkout (they do not depend on the
    * seed); the tenfold corpus only when `x10`.
    */
  def prepare(work: String, x10: Boolean): Unit = {
    val spark = session(work)
    Data.base(spark, baseDir(work))
    if (x10) Data.x10(spark, baseDir(work), x10Dir(work))
    spark.stop()
  }

  private val start = System.nanoTime()
  private def note(what: String): Unit =
    System.err.println(f"[ddfbench] ${(System.nanoTime() - start) / 1e9}%.1f s: $what")

  def main(args: Array[String]): Unit = {
    if (args.length == 3 && args(0) == "prepare") return prepare(args(1), args(2) == "x10")
    require(args.length == 6, "usage: prepare workDir base|x10 | " +
      s"workload seed seconds trace workDir outFile, got ${args.toSeq}")
    val Array(workload, seedS, secondsS, traceS, work, outFile) = args
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val baseDir = Main.baseDir(work)
    val x10Dir = Main.x10Dir(work)
    val runDir = s"$work/run-${ProcessHandle.current().pid()}"
    val isX10 = workload == "scan_x10"

    val dataDir = if (isX10) x10Dir else baseDir
    require(new java.io.File(dataDir, "_" + Data.Version).exists(), s"run `prepare $work` first")

    // set-up, as a user pays it: session start and table registration in
    // a cold JVM, then one warm-up cycle (JIT, whole-stage codegen, file
    // caches) that the measured cycles leave out
    val setup0 = System.nanoTime()
    LiveMemory.install()
    val spark = session(work)
    val m = register(spark, dataDir, if (isX10) Some(seed) else None)
    val ctx = new Ctx(spark, m, dataDir, s"$runDir/scratch")
    val rng = new scala.util.Random(seed)
    val ops = Workloads.ops(workload, ctx, rng)
    val orders = ArrayBuffer.empty[Seq[Op]]
    def order(c: Int): Seq[Op] = {
      while (orders.size <= c) orders += rng.shuffle(ops)
      orders(c)
    }
    loop(_ => ops, 0, NoSpans)
    val setupS = (System.nanoTime() - setup0) / 1e9
    note("set up and warmed up")
    LiveMemory.reset()

    def timed(tr: Spans, cycles: Int => Seq[Op], secs: Double): String = {
      val cpu0 = osBean.getProcessCpuTime
      val gc0 = gcMs
      val (recs, elapsed, n) = loop(cycles, secs, tr)
      Json.obj("elapsed_s" -> elapsed, "cycles" -> n,
        "cpu_s" -> (osBean.getProcessCpuTime - cpu0) / 1e9, "gc_ms" -> (gcMs - gc0),
        "ops" -> Json.Raw(recs.map(recJson).mkString("[", ",", "]")))
    }

    val body =
      if (!traced) Seq("timed" -> Json.Raw(timed(NoSpans, order, seconds)))
      else {
        // one untraced cycle for the overhead ratio, then the same cycle
        // traced twice: the counts of the two must repeat exactly
        val first = order(0)
        val untraced = timed(NoSpans, _ => first, 0)
        val passes = (0 until 2).map { _ =>
          val tr = new Trace(spark)
          tr.start()
          val t = timed(tr, _ => first, 0)
          tr.stop()
          s"""{"timed":$t,"trace":${tr.toJson}}"""
        }
        val registry =
          if (workload != "curation_build") "null"
          else {
            // the registry's g05_kcore under the same session and sink, for
            // the job count of the kcore item; the first call registers the
            // registry's tables (a footer-reading job per table), so the
            // second is the one compared
            val g05 = graft.SparkEntry.queries("g05_kcore")
            Workloads.sink(NoSpans, g05(spark, ctx.dataDir))
            val tr = new Trace(spark)
            tr.start()
            tr.span("registry_g05_kcore", "op") {
              Workloads.sink(tr, tr.span("SparkEntry.g05_kcore", "registry")(
                g05(spark, ctx.dataDir)))
            }
            tr.stop()
            tr.toJson
          }
        Seq("untraced" -> Json.Raw(untraced),
          "passes" -> Json.Raw(passes.mkString("[", ",", "]")),
          "registry_g05" -> Json.Raw(registry))
      }

    val (liveMb, collections) = LiveMemory.peakMb
    note(s"measured; $collections garbage collections")
    val out = Json.obj(Seq("workload" -> workload, "seed" -> seed,
      "cpus" -> Runtime.getRuntime.availableProcessors,
      "setup_s" -> setupS,
      "peak_live_mb" -> (if (collections == 0) null else liveMb)) ++ body: _*)
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    Workloads.deleteTree(new java.io.File(runDir))
    note("done")
  }
}
