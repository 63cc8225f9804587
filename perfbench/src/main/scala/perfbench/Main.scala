package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation of a workload; in a traced run, a span of
  * `layer`. `after` is the harness's own bookkeeping (output sizes),
  * run untimed and outside every span once the operation returns.
  */
final case class Op(name: String, layer: String, run: () => Unit, after: () => Unit = () => ())

final case class OpResult(cycle: Int, name: String, layer: String, seconds: Double,
    error: Option[String])

/** A workload: set-up inside the session, then one cycle of operations
  * at a time, then untimed output dumps the checker reads.
  */
trait Workload {
  /** Set-up work that belongs to the program (index builds); each
    * returns its own outcome.
    */
  def setup(): Seq[(String, Double, Option[String])] = Nil
  def cycle(c: Int): Seq[Op]
  def finish(): Unit = ()
  /** Program-level counters for the traced report (name → value). */
  def counters(): Map[String, Double] = Map.empty
}

/** The benchmark's JVM side. It receives only the generated inputs,
  * runs whole cycles of a workload until at least `--seconds` of timed
  * work is done, and writes every measurement as JSON for run.py.
  *
  * Usage: perfbench.Main --workload W --seconds S --trace 0|1
  *   --input DIR --work DIR --result FILE [--spans FILE] --cpus N
  *   [--queries q02,q06,...]
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val input = opt("input")
    val work = opt("work")
    val cpus = opt("cpus")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config(graft.GraftConf.contextDefaults)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftConf.bootstrap(spark)

    def make(name: String, in: String, out: String): Workload = name match {
      case "cxc_refresh" => new CxcRefresh(spark, in, out)
      case "query_mix" => new QueryMix(spark, in, out, opt("queries").split(",").toSeq)
      case "stream_dedup" => new StreamDedup(spark, in, out)
      case other => sys.error(s"unknown workload $other")
    }
    val trace = if (traced) Some(new Trace(spark, s"$workloadName-${ProcessHandle.current().pid()}")) else None
    val workload = make(workloadName, input, s"$work/out")
    Main.trace = trace
    val sessionMs = System.currentTimeMillis()
    val builds = workload.setup()

    val results = mutable.ArrayBuffer[OpResult]()
    val firstOpMs = System.currentTimeMillis()
    var timed = 0.0
    var c = 0
    while (c == 0 || timed < seconds) {
      workload.cycle(c).foreach { op =>
        val t0 = System.nanoTime()
        val err =
          try {
            Main.call(op.layer, op.name)(op.run())
            None
          } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
        val s = (System.nanoTime() - t0) / 1e9
        timed += s
        if (err.isEmpty) op.after()
        results += OpResult(c, op.name, op.layer, s, err)
        err.foreach(m => System.err.println(s"[perfbench] ${op.name} failed: $m"))
      }
      c += 1
    }
    workload.finish()

    val layers = trace.map { t => t.drain(); t.layers() }.getOrElse(Map.empty)
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("session_ms", sessionMs)
    root.put("first_op_ms", firstOpMs)
    root.put("peak_rss_mb", peakRssMb())
    root.put("jvm_gc_s", gcS)
    root.put("jvm_heap_peak_mb", heapPeakMb)
    val bs = root.putArray("builds")
    builds.foreach { case (n, s, e) =>
      val b = bs.addObject(); b.put("name", n); b.put("seconds", s)
      e.foreach(b.put("error", _))
    }
    val os = root.putArray("ops")
    results.foreach { r =>
      val o = os.addObject()
      o.put("cycle", r.cycle); o.put("name", r.name); o.put("layer", r.layer)
      o.put("seconds", r.seconds); r.error.foreach(o.put("error", _))
    }
    val ls = root.putObject("layers")
    layers.foreach { case (name, k) =>
      val o = ls.putObject(name)
      o.put("busy_s", k.busyS); o.put("driver_s", k.driverS); o.put("plan_s", k.planS)
      o.put("jobs", k.jobs); o.put("task_cpu_s", k.taskCpuS); o.put("shuffle_mb", k.shuffleMb)
    }
    val cs = root.putObject("counters")
    workload.counters().foreach { case (k, v) => cs.put(k, v) }
    m.writerWithDefaultPrettyPrinter().writeValue(new File(opt("result")), root)

    for (t <- trace; path <- opt.get("spans")) {
      val w = new java.io.PrintWriter(path)
      try t.allSpans.foreach { s =>
        val o = m.createObjectNode()
        o.put("run", t.runId); o.put("id", s.id); o.put("parent", s.parent)
        o.put("name", s.name); o.put("op", s.op)
        o.put("start_ms", s.startMs); o.put("end_ms", s.endMs)
        if (s.sampled) o.put("sampled", true)
        w.println(m.writeValueAsString(o))
      } finally w.close()
    }
    trace.foreach(_.close())
    spark.stop()
  }

  /** The traced run's tracer; None in an untraced run. */
  @volatile var trace: Option[Trace] = None

  /** One call into a layer from inside an operation: a child span in a
    * traced run, a plain call otherwise.
    */
  def call[A](layer: String, name: String, stages: Seq[(String, String)] = Nil)(f: => A): A =
    trace match {
      case Some(t) => t.span(layer, name, stages)(f)
      case None => f
    }

  /** High-water resident set size of this process (Linux VmHWM). */
  private def peakRssMb(): Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
    }.getOrElse(0.0)

  /** Bytes under a local directory (0 when absent). */
  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(g => dirBytes(g.getPath)).sum).getOrElse(0L)
  }

  def timed(f: => Unit): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val e = try { f; None } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    ((System.nanoTime() - t0) / 1e9, e)
  }

  def writeJson(path: String, kv: Map[String, String]): Unit = {
    val m = new ObjectMapper()
    val o = m.createObjectNode()
    kv.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    m.writeValue(new File(path), o)
  }
}

/** `cxc_refresh`: the calls `RunCxcPipeline.main` makes, over one
  * long-lived session and a generated raw master table. A full refresh
  * (40 views, three workbooks, the PDF) takes minutes here, so each
  * cycle is one sampled refresh: `CxcPipeline.run`, the parquet sink of
  * [[CxcRefresh.SampledViews]], the analysis workbook restricted to
  * [[CxcRefresh.SampledSheets]], and the PDF over the MXN views (the
  * USD section renders no pages without its views).
  */
final class CxcRefresh(spark: SparkSession, input: String, out: String) extends Workload {
  import graft.cxc._
  private val raw: DataFrame = spark.read.parquet(s"$input/cxc_raw.parquet")
  private var views: Map[String, DataFrame] = Map.empty
  private var parquetBytes = 0L
  private var xlsxBytes = 0L
  private var pdfPages = 0

  /** One operation: the whole sampled refresh, each call a child span. */
  def cycle(c: Int): Seq[Op] = {
    val dir = s"$out/refresh$c"
    Seq(Op("refresh", "cxc.refresh", () => {
      Main.call("cxc.pipeline", "pipeline", CxcRefresh.Stages) {
        views.get("movimientos_totales").foreach(_.unpersist())
        views = CxcPipeline.run(spark, raw, CxcPipeline.Options())
      }
      CxcRefresh.SampledViews.foreach { v =>
        Main.call(CxcRefresh.stageOf(v), s"parquet:$v") {
          graft.output.Sinks.parquet(views(v), s"$dir/$v")
        }
      }
      val sheets = views.filter(kv => CxcRefresh.SampledSheets(kv._1))
      Main.call("output.xlsx", s"xlsx:${CxcRefresh.Workbook}") {
        CxcWorkbooks.export(sheets, dir)
      }
      val mxn = views.filter(kv => !kv._1.endsWith("_usd"))
      Main.call("output.pdf", "pdf") {
        pdfPages = CxcPdf.export(mxn, s"$dir/dashboard_cxc.pdf", "2024-06-01 00:00")
      }
    }, () => {
      parquetBytes += CxcRefresh.SampledViews.map(v => Main.dirBytes(s"$dir/$v")).sum
      xlsxBytes += Main.dirBytes(s"$dir/${CxcRefresh.Workbook}.xlsx")
    }))
  }

  override def finish(): Unit =
    Main.writeJson(s"$out/cxc_views.json", views.map { case (k, _) => k -> CxcRefresh.stageOf(k) })

  override def counters(): Map[String, Double] = Map(
    "output.parquet_mb" -> parquetBytes / 1048576.0,
    "output.xlsx_mb" -> xlsxBytes / 1048576.0,
    "output.pdf_pages" -> pdfPages.toDouble)
}

object CxcRefresh {
  /** Stack fragments → layer for the stages inside `CxcPipeline.run`. */
  val Stages: Seq[(String, String)] = Seq(
    "graft.cxc.CxcReport" -> "cxc.report", "graft.cxc.CxcAuditor" -> "cxc.audit",
    "graft.cxc.CxcAnalytics" -> "cxc.analytics", "graft.cxc.CxcKpis" -> "cxc.kpis")

  /** The views the output checks read. */
  val SampledViews: Seq[String] = Seq("movimientos_totales", "antiguedad_cartera_mxn")

  /** The workbook written, and the views whose sheets it gets. */
  val Workbook = "02_analisis_cxc"
  val SampledSheets: Set[String] = Set("kpis_resumen_mxn", "concentracion_mxn")

  private val KpiPrefixes = Seq("kpis_", "concentracion_", "limite_credito_", "morosidad_por_cliente_")
  private val ReportViews = Set("movimientos_totales", "reporte_cxc", "facturas_abiertas",
    "facturas_cerradas", "por_acreditar", "registros_totales", "registros_por_acreditar",
    "registros_cancelados")

  /** The stage a view's parquet write is charged to. */
  def stageOf(view: String): String =
    if (ReportViews(view)) "cxc.report"
    else if (view.startsWith("auditoria_")) "cxc.audit"
    else if (KpiPrefixes.exists(view.startsWith)) "cxc.kpis"
    else "cxc.analytics"
}

/** `query_mix`: registered queries over the generated sf tables, each
  * materialised to parquet (the result the output check reads).
  */
final class QueryMix(spark: SparkSession, input: String, out: String, ids: Seq[String])
    extends Workload {
  import graft.queries._
  private val byId: Map[String, (String, (SparkSession, String) => DataFrame)] =
    graft.SparkEntry.queries.map { case (n, f) => n.takeWhile(_ != '_') -> (n, f) }
  private val mix = ids.map(byId)

  private def layerOf(name: String): String =
    if (CoreQueries.queries.contains(name)) "queries.core"
    else if (KpiQueries.queries.contains(name)) "queries.kpi"
    else if (EventQueries.queries.contains(name)) "queries.event"
    else if (TextQueries.queries.contains(name)) "queries.text"
    else if (VectorQueries.queries.contains(name)) "queries.vector"
    else "multimodal"

  /** The persisted indexes the mix probes, built cold every run. */
  override def setup(): Seq[(String, Double, Option[String])] = {
    val dir = input
    val builds: Seq[(String, () => Unit)] = Seq(
      "ivf" -> (() => VectorQueries.ivfBuild(spark, dir, VectorQueries.ivfIndexPath(dir))))
    builds.map { case (name, f) =>
      val (s, e) = Main.timed(Main.call("index.build", name)(f()))
      e.foreach(m => System.err.println(s"[perfbench] index build $name failed: $m"))
      (name, s, e)
    }
  }

  def cycle(c: Int): Seq[Op] = mix.map { case (name, f) =>
    Op(s"query:${name.takeWhile(_ != '_')}", layerOf(name),
      () => f(spark, input).write.mode("overwrite").parquet(s"$out/$name"))
  }

  override def finish(): Unit = {
    val names = mix.map(_._1).toSet
    Main.writeJson(s"$out/oracle_sql.json",
      graft.SparkEntry.oracleSqlFor(Some(input)).filter(kv => names(kv._1)))
  }
}

/** `stream_dedup`: the micro-batch `TextStreaming.start` runs —
  * `processBatch` then `compactIndex` — over pre-cut batch files in
  * doc_id order, against a disk index that grows from empty each cycle.
  */
final class StreamDedup(spark: SparkSession, input: String, out: String) extends Workload {
  import graft.streaming.TextStreaming
  private val batchFiles: Seq[String] =
    Option(new File(s"$input/stream").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("batch")).sorted.map(n => s"$input/stream/$n")
  private var compactions = 0
  private var compactBytes = 0L
  private var appendedBytes = 0L
  private var indexBytes = 0L

  /** Warm-up: the first two batches into a scratch index, untimed. The
    * first batch in a JVM is cold (class loading, code generation) and
    * the next few still run slower while the JIT compiles; without the
    * second warm-up batch those slow batches set `batch_p80_s`.
    */
  override def setup(): Seq[(String, Double, Option[String])] = {
    batchFiles.take(2).zipWithIndex.foreach { case (f, b) =>
      TextStreaming.processBatch(spark, spark.read.parquet(f),
        s"$out/warmup/index", s"$out/warmup/verdicts", b.toLong)
    }
    Nil
  }

  private def baseHi(idx: String): Option[String] =
    Option(new File(s"$idx/signatures_base").list()).toSeq.flatten.sorted.lastOption

  def cycle(c: Int): Seq[Op] = {
    val idx = s"$out/cycle$c/index"
    val verdicts = s"$out/cycle$c/verdicts"
    var base: Option[String] = None
    batchFiles.zipWithIndex.map { case (f, b) =>
      Op(s"batch:$b", "streaming.process_batch", () => {
        TextStreaming.processBatch(spark, spark.read.parquet(f), idx, verdicts, b.toLong)
        Main.call("streaming.compact", "compact")(TextStreaming.compactIndex(spark, idx))
      }, () => {
        // the newest batch is never compacted in its own operation
        // (keepLast), so its signatures are still where they were appended
        appendedBytes += Main.dirBytes(s"$idx/signatures/batch=$b")
        val now = baseHi(idx)
        if (now != base) {
          compactions += 1
          compactBytes += Main.dirBytes(s"$idx/signatures_base/${now.get}")
          base = now
        }
        indexBytes = Main.dirBytes(idx)
      })
    }
  }

  /** The same documents as one batch: the parity reference. */
  override def finish(): Unit =
    TextStreaming.processBatch(spark, spark.read.parquet(batchFiles: _*),
      s"$out/oneshot/index", s"$out/oneshot/verdicts", 0L)

  override def counters(): Map[String, Double] = Map(
    "streaming.compactions" -> compactions.toDouble,
    "streaming.compact_mb" -> compactBytes / 1048576.0,
    "streaming.index_mb" -> indexBytes / 1048576.0,
    "streaming.write_amp" ->
      (if (appendedBytes > 0) (appendedBytes + compactBytes).toDouble / appendedBytes else 0.0))
}
