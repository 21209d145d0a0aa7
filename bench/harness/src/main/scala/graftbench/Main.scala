package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry, Tables, Training}
import graft.operators.Etl
import graft.sources.{Sinks, Sources}

/** The benchmark's JVM side: one workload, one closed loop, one client.
  *
  *   graftbench.Main --workload <etl_star_load|iterative_ops>
  *     --data <generated inputs> --out <work dir> --seconds <n>
  *     --trace <0|1> --cores <n>
  *
  * Sequence: [[SetupReps]] set-ups (session start and a warm-up that
  * reads the workload's input tables once), keeping the last session; for
  * `iterative_ops` the `Training.builders` entries its ops read are
  * forced once; one warm-up pass over the workload's ops; a calibration
  * job; timed passes until `--seconds` is spent (at least two); the
  * calibration job again.
  *
  * The warm-up pass leaves each query's output for the oracle compare
  * (the ETL ops leave their tables anyway), and an op's first execution
  * records the result hash every later execution must repeat. With
  * `--trace 1` every op runs twice per timed pass, traced (a registered
  * [[Recorder]] plus spans) and untraced, so the trace's own overhead is
  * measured in the same JVM.
  *
  * Writes `<out>/result.json` (and `<out>/spans.jsonl` when tracing);
  * `bench/run.py` turns those into metrics.
  */
object Main {

  /** Timed passes a run makes at the least. Over ten seeds per workload the
    * median of two spread less between runs than the median of three
    * (passes still speed up a little after the warm-up pass), at two
    * thirds of the cost.
    */
  val MinTimedPasses = 2

  /** Set-ups per run; `setup_s` is their median, so neither the first
    * one, which also starts the JVM's JIT, nor one disturbed by the host
    * decides it.
    */
  val SetupReps = 4

  final case class Args(workload: String, data: String, out: String,
      seconds: Double, trace: Boolean, cores: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("out"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("cores", "4").toInt)
  }

  /** One unit of work inside a pass, returning its result hash; `None` for
    * ops whose output is checked through a later op (the ETL extract and
    * load steps).
    */
  final case class Op(name: String, run: Run => Option[String])

  final case class PlanRec(span: Int, phases: Seq[(String, Long, Long)],
      exchanges: Int, rddScans: Int)

  final case class OpRun(pass: Int, op: String, opId: Int, traced: Boolean,
      secs: Double, ok: Boolean, err: String, gcMs: Long, rddsLeft: Int, files: Int)

  /** Per-run state shared by the ops. */
  final class Run(val args: Args, val spark: SparkSession) {
    val tracer = new Tracer
    var recorder: Recorder = null
    var tracing = false
    val plans = ArrayBuffer.empty[PlanRec]
    var writtenFiles = 0
    /** Set in the warm-up pass: where queries write their results for the
      * oracle compare.
      */
    var resultsDir: Option[String] = None

    def span[T](name: String, layer: String)(body: => T): T =
      if (tracing) tracer.span(spark, name, layer)(body)._1 else body

    private def action[T](qe: => QueryExecution)(body: => T): T =
      if (!tracing) body
      else {
        val (v, s) = tracer.span(spark, "action", "exec")(body)
        val q = qe
        plans += PlanRec(s.id,
          q.tracker.phases.toSeq.map { case (k, p) => (k, p.startTimeMs, p.endTimeMs) },
          PlanShape.exchanges(q.executedPlan),
          q.optimizedPlan.collectWithSubqueries { case r: LogicalRDD => r }.size)
        v
      }

    /** An op's action: row count and an order-independent hash of every
      * column in one aggregate, computed where the data is, so the whole
      * result is computed without collecting its rows.
      */
    def hashCount(df: DataFrame): String = {
      val agg = Hashing.aggregate(df)
      action(agg.queryExecution)(Hashing.ofAggregate(agg.collect()(0)))
    }

    /** Sink call, with the files it left counted afterwards. */
    def write(path: String)(body: => Unit): Unit = {
      span("write", "sinks")(body)
      writtenFiles += PlanShape.dataFiles(path)
    }
  }

  object PlanShape extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) { case e: Exchange => e }.size

    def dataFiles(path: String): Int = {
      val root = Paths.get(path)
      if (!Files.exists(root)) 0
      else {
        val s = Files.walk(root)
        try s.filter(p => p.getFileName.toString.startsWith("part-")).count().toInt
        finally s.close()
      }
    }
  }

  // ---- workloads ----------------------------------------------------

  /** Among the ROADMAP's heaviest operators at build time: the most eager
    * build-time jobs (`graph_hits`, reading the memoized graph edges) and
    * build-time jobs with lineage cuts on a partition-sizing path
    * (`q_abc_migration`).
    */
  val iterativeKeys: Seq[String] = Seq("graph_hits", "q_abc_migration")

  /** A registry query, forced by [[Run.hashCount]]. In the warm-up pass the
    * action writes the result for the oracle compare instead, and the hash
    * is read off the written files, so no pass executes a query twice.
    */
  private def queryOp(key: String): Op = Op(key, { r =>
    val df = r.span("build", "operators")(SparkEntry.queries(key)(r.spark, r.args.data))
    Some(r.resultsDir.fold(r.hashCount(df)) { dir =>
      df.write.mode("overwrite").parquet(s"$dir/$key")
      r.hashCount(r.spark.read.parquet(s"$dir/$key"))
    })
  })

  val eventSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING")
  val inventorySchema: StructType = StructType.fromDDL(
    "l_partkey BIGINT, l_suppkey BIGINT, l_quantity DOUBLE")

  val etlTables: Seq[String] = Seq("dim_products", "dim_customers", "fact_sales", "fact_inventory")

  /** The ETL pipeline of the reference's `main`, one public call per step:
    * extract (the Kafka drain as JSON lines, the MinIO listing as a CSV
    * prefix tree dated by object key) into the staging tables that
    * `Tables` reads, conform the dims, enrich the facts, load them as
    * `Etl.pipeline` does, and read the loaded tables back.
    */
  private def etlOps(a: Args): Seq[Op] = {
    val stage = s"${a.data}/stage"
    val out = s"${a.out}/etl"
    val chunk = 1000000
    def extract(name: String, table: String, read: SparkSession => DataFrame) =
      Op(name, { r =>
        val df = r.span("read", "sources")(read(r.spark))
        r.write(s"$stage/$table.parquet")(Sinks.writeChunked(df, s"$stage/$table.parquet", chunk))
        None
      })
    def load(name: String, build: Tables => DataFrame)(sink: (DataFrame, String) => Unit) =
      Op(name, { r =>
        val df = r.span("build", "operators")(build(Tables(r.spark, stage)))
        r.write(s"$out/$name")(sink(df, s"$out/$name"))
        None
      })
    Seq(
      extract("extract_events", "events", spark =>
        Sources.jsonLines(spark, s"${a.data}/raw/events", Some(eventSchema))),
      extract("extract_inventory", "lineitem", spark =>
        Sources.csvWithDateFromKey(spark, s"${a.data}/raw/inventory/*/*/*.csv",
          Some(inventorySchema))
          .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
            col("date").as("l_shipdate"))),
      load("dim_products", Etl.dimProducts)(Sinks.writeChunked(_, _, chunk)),
      load("dim_customers", Etl.dimCustomers)(Sinks.writeChunked(_, _, chunk)),
      load("fact_sales", Etl.factSales)(
        Sinks.writeMonthPartitioned(_, "ts", _, Seq("ts", "event_id"))),
      load("fact_inventory", Etl.factInventory)(
        Sinks.writeMonthPartitioned(_, "date", _, Seq("date", "product_id", "warehouse_id")))
    ) ++ etlTables.map { t =>
      Op(s"readback_$t", r =>
        Some(r.hashCount(r.span("read", "sources")(Sources.parquet(r.spark, s"$out/$t")))))
    }
  }

  private def ops(a: Args): Seq[Op] = a.workload match {
    case "etl_star_load" => etlOps(a)
    case "iterative_ops" => iterativeKeys.map(queryOp)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Oracle SQL per checked output, for the DuckDB compare in run.py. */
  private def oracles(a: Args): Map[String, String] = a.workload match {
    case "etl_star_load" => Map(
      "dim_products" -> Etl.dimProductsSql, "dim_customers" -> Etl.dimCustomersSql,
      "fact_sales" -> Etl.factSalesSql, "fact_inventory" -> Etl.factInventorySql)
    case _ => ops(a).map(_.name).flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap
  }

  /** The input tables a workload's ops read, each read once in warm-up. */
  private def warmUp(a: Args, spark: SparkSession): Unit = {
    val t = Tables(spark, if (a.workload == "etl_star_load") s"${a.data}/stage" else a.data)
    val tables =
      if (a.workload == "etl_star_load") Seq(t.part, t.customer)
      else Seq(t.orders, t.lineitem, t.events)
    tables.foreach(_.count())
  }

  /** The `Training.builders` entries the iterative ops read (the graph
    * operators share the mined edge set, which itself reads the basket
    * pairs), forced during set-up so pass times are marginal cost.
    */
  val iterativeTraining: Set[String] = Set("basket_pairs", "graph_edges")

  // ---- measurement helpers ------------------------------------------

  private def session(a: Args): SparkSession = {
    val s = GraftSession.builder(s"local[${a.cores}]", a.cores)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed CPU-bound job sized per core (the idea of `Bench.calibrationSec`):
    * best of three after two warm-up runs, so a contended host shows as a
    * slower calibration.
    */
  private def calibration(spark: SparkSession, cores: Int): Double =
    (0 to 4).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, cores.toLong * 12500000L, 1L, cores).selectExpr("sum(id % 7)").collect()
      (System.nanoTime() - t0) / 1e9
    }.drop(2).min

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private def procStatusKb(key: String): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  /** Resets the process's peak resident set (VmHWM) to its current RSS. */
  private def resetPeakRss(): Unit =
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case _: Exception => () }

  private def oneLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).replaceAll("\\s+", " ").take(300)

  private val t00 = System.nanoTime()
  private def note(msg: String): Unit =
    System.err.println(f"[bench ${(System.nanoTime() - t00) / 1e9}%8.2f] $msg")

  // ---- main ---------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val opList = ops(a)

    // set-up, repeated; the last session stays up for the passes
    val startS = ArrayBuffer.empty[Double]
    val warmS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 1 to SetupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a)
      val t1 = System.nanoTime()
      warmUp(a, spark)
      val t2 = System.nanoTime()
      startS += (t1 - t0) / 1e9
      warmS += (t2 - t1) / 1e9
      note(f"setup $rep: session ${startS.last}%.2f warm-up ${warmS.last}%.2f")
    }
    val sc = spark.sparkContext
    val run = new Run(a, spark)
    if (a.trace) {
      run.recorder = new Recorder
      sc.addSparkListener(run.recorder)
      run.tracing = true
    }
    val trainingSpans = ArrayBuffer.empty[Int]
    val t0 = System.nanoTime()
    if (a.workload == "iterative_ops") {
      run.tracer.beginOp()
      Training.builders.filter(b => iterativeTraining(b._1)).foreach { case (name, force) =>
        trainingSpans += run.tracer.nextId
        val t = System.nanoTime()
        run.span(s"training:$name", "training")(force(Tables(spark, a.data)))
        note(f"training:$name ${(System.nanoTime() - t) / 1e9}%.2f")
      }
    }
    val trainS = (System.nanoTime() - t0) / 1e9
    note(f"training $trainS%.2f")
    run.tracing = false
    if (a.trace) { run.recorder.flush(spark); sc.removeSparkListener(run.recorder) }

    val firstHash = scala.collection.mutable.Map.empty[String, String]
    val runs = ArrayBuffer.empty[OpRun]

    /** One timed execution of `op`; outside the timed region it checks the
      * result hash against the first execution's and releases cached data.
      */
    def execute(op: Op, pass: Int, traced: Boolean): OpRun = {
      if (traced) sc.addSparkListener(run.recorder)
      run.tracer.beginOp()
      run.writtenFiles = 0
      run.tracing = traced
      var err: String = null
      var hash: Option[String] = None
      val g0 = gcMs()
      val t0 = System.nanoTime()
      try {
        hash = if (traced) run.tracer.span(spark, op.name, "harness")(op.run(run))._1
              else op.run(run)
      } catch { case e: Throwable => err = oneLine(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      val gc = gcMs() - g0
      run.tracing = false
      if (traced) { run.recorder.flush(spark); sc.removeSparkListener(run.recorder) }
      for (h <- hash if err == null) {
        val first = firstHash.getOrElseUpdate(op.name, h)
        if (first != h) err = s"result hash $h differs from the first execution's $first"
      }
      spark.catalog.clearCache()
      note(f"pass $pass ${if (traced) "traced " else ""}${op.name} $secs%.3f ${Option(err).getOrElse("")}")
      OpRun(pass, op.name, run.tracer.currentOp, traced, secs, err == null, err, gc,
        sc.getPersistentRDDs.size, run.writtenFiles)
    }

    // pass 0 warms up (first executions: JIT, codegen, file listing) and
    // is left out of every metric; then whole timed passes, at least
    // MinTimedPasses, while the next is expected to end inside the
    // budget. A traced run executes every op twice per timed pass, traced
    // and untraced, alternating which goes first so neither side always
    // runs second.
    run.resultsDir = Some(s"${a.out}/results")
    opList.foreach(op => runs += execute(op, 0, traced = false))
    run.resultsDir = None
    // let the collector and the JIT's queue settle before timing
    System.gc()
    Thread.sleep(1000)
    val calibBefore = calibration(spark, a.cores)
    val budgetNs = (a.seconds * 1e9).toLong
    resetPeakRss()
    val loopStart = System.nanoTime()
    var pass = 1
    def more = {
      val spent = System.nanoTime() - loopStart
      pass <= MinTimedPasses || spent + spent / (pass - 1) <= budgetNs
    }
    while (more) {
      opList.zipWithIndex.foreach { case (op, i) =>
        if (!a.trace) runs += execute(op, pass, traced = false)
        else {
          val tracedFirst = (i + pass) % 2 == 0
          runs += execute(op, pass, tracedFirst)
          runs += execute(op, pass, !tracedFirst)
        }
      }
      pass += 1
    }
    val peakRssKb = procStatusKb("VmHWM")
    // the least heap in use over a few full GCs: the spark cleaner frees
    // blocks of collected RDDs asynchronously after a GC finds them
    val heapLiveMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min / (1024.0 * 1024.0)
    val calibAfter = calibration(spark, a.cores)

    val layers =
      if (a.trace) Layers.summarize(a, run, runs.filter(_.pass > 0).toSeq, trainingSpans.toSeq,
        startS.toSeq, trainS)
      else Map.empty[String, Double]

    def strMap(m: Iterable[(String, String)]) =
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*)
    val res = Json.obj(
      "workload" -> Json.str(a.workload),
      "ops" -> Json.arr(opList.map(o => Json.str(o.name))),
      "host" -> Json.obj(
        "cores" -> Json.num(a.cores.toLong),
        "available_processors" -> Json.num(Runtime.getRuntime.availableProcessors().toLong),
        "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / (1L << 20)),
        "spark" -> Json.str(spark.version),
        "jdk" -> Json.str(System.getProperty("java.version")),
        "calib_before_s" -> Json.num(calibBefore),
        "calib_after_s" -> Json.num(calibAfter)),
      "session_start_s" -> Json.arr(startS.map(Json.num(_))),
      "warm_up_s" -> Json.arr(warmS.map(Json.num(_))),
      "training_s" -> Json.num(trainS),
      "oracle_sql" -> strMap(oracles(a)),
      "peak_rss_mb" -> Json.num(peakRssKb / 1024.0),
      "heap_live_mb" -> Json.num(heapLiveMb),
      "runs" -> Json.arr(runs.map { r =>
        Json.obj("pass" -> Json.num(r.pass.toLong), "op" -> Json.str(r.op),
          "traced" -> Json.bool(r.traced),
          "s" -> Json.num(r.secs), "ok" -> Json.bool(r.ok), "err" -> Json.str(r.err))
      }),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))
    Files.writeString(Paths.get(s"${a.out}/result.json"), res)
    if (a.trace) {
      val lines = run.tracer.spans.map { s =>
        Json.obj("id" -> Json.num(s.id.toLong), "parent" -> Json.num(s.parent.toLong),
          "op" -> Json.num(s.op.toLong), "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
          "start_ns" -> Json.num(s.start), "end_ns" -> Json.num(s.end))
      }
      Files.writeString(Paths.get(s"${a.out}/spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }
}
