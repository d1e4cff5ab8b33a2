package graftbench

import graft.{GbifFilterJob, Persisted}
import graft.config.FilterConfig
import graft.geo.GeoFunctions
import graft.ops.{OccurrenceFilter, OutputShaper, RankResolver, TaxonomyResolver}
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.io.{BufferedReader, File, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Closed-loop runner of the GBIF filter job for the benchmark.
  *
  * One client: each job (config parse, CSV read, [[GbifFilterJob.run]],
  * CSV write) starts after the previous job's output was checked. The
  * check runs in the parent process: for every job this program prints
  * `@@job <k> <seconds> <outDir>` (or `@@error <k> <seconds> <message>`)
  * and waits for one reply line on stdin before the next job.
  *
  * Both modes start the session, run [[WarmupJobs]] jobs, print `@@ready`,
  * then:
  *  - `measure`: timed jobs until their summed time reaches `seconds`;
  *  - `trace`:   iterations until `seconds` of wall time: a plain job and,
  *               taking turns at going first, with the [[BenchListener]]
  *               attached, the layers one public call at a time (build
  *               span around the call, exec span around a `noop`-sink write
  *               of its output) and the job split into build, plan and
  *               exec spans. The listener attributes Spark work to spans.
  *
  * Arguments are `key=value` pairs; see [[main]]. The run record is
  * written as JSON to `result`.
  */
object GbifBench {
  val WarmupJobs = 12
  val MinIterations = 3

  final case class Span(id: Int, name: String, parent: String, start: Long, end: Long)

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val mode = a("mode")
    val data = a("data")
    val outBase = a("out")
    val cores = a("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("gbif-filter-bench")
      // the session GbifFilterApp builds when SPARK_GRAFT_CPUS is unset
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("localDir"))
      .config("spark.sql.warehouse.dir", s"$outBase/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bench = new GbifBench(spark, data, outBase, a("tag").toBoolean)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val warmupS = (1 to WarmupJobs).map { _ =>
      val t0 = System.nanoTime()
      bench.job(s"$outBase/warmup")
      Persisted.unpersistAll()
      (System.nanoTime() - t0) / 1e9
    }
    val ready = System.nanoTime()
    val allocReady = Jvm.allocatedBytes
    println("@@ready")

    val stdin = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val listener = new BenchListener
    val seconds = a("seconds").toDouble
    var timed = 0.0
    var k = 0
    // one job, timed from outside, then checked by the parent
    def timedJob(kind: String)(run: String => Unit): Double = {
      val out = s"$outBase/$kind-$k"
      val t0 = System.nanoTime()
      val err = try { run(out); None } catch { case e: Exception => Some(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      Persisted.unpersistAll()
      err match {
        case None => println(s"@@job $k $dt $out")
        case Some(e) =>
          e.printStackTrace()
          println(s"@@error $k $dt ${e.toString.replace('\n', ' ').take(300)}")
      }
      val verdict = stdin.readLine()
      jobs += Map("k" -> k, "kind" -> kind, "s" -> dt, "ok" -> (err.isEmpty && verdict == "ok"))
      k += 1
      dt
    }
    if (mode == "measure") {
      while (timed < seconds) timed += timedJob("job")(bench.job)
    } else {
      // a traced run counts wall time, layer spans included
      var iterations = 0
      while ((System.nanoTime() - ready) / 1e9 < seconds || iterations < MinIterations) {
        // the plain job and the traced part take turns going first, so
        // that the last of the JIT warming favours neither
        val plain = () => timedJob("job")(bench.job)
        val traced = () => BenchListener.attached(spark.sparkContext, listener) {
          bench.layers(k)
          timedJob("traced")(out => bench.splitJob(k, out))
        }
        if (iterations % 2 == 0) { plain(); traced() } else { traced(); plain() }
        iterations += 1
      }
    }
    val hwmKb = Jvm.vmHwmKb()
    val scanRows = if (mode == "trace") bench.scanRows() else Map.empty[String, Long]
    val runEnd = System.nanoTime()
    val allocTimed = Jvm.allocatedBytes - allocReady
    spark.stop()
    val record = Map(
      "mode" -> mode,
      "cores" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "vm_hwm_kb" -> hwmKb,
      "alloc_bytes_timed" -> allocTimed,
      "session_s" -> sessionS,
      "warmup_s" -> warmupS,
      "ready_to_end_s" -> (runEnd - ready) / 1e9,
      "jobs" -> jobs,
      "spans" -> bench.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_s" -> (s.start - ready) / 1e9,
        "end_s" -> (s.end - ready) / 1e9)),
      "write_bytes" -> bench.writeBytes,
      "scan_rows" -> scanRows,
      "listener" -> listener.totals)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(a("result")), json.writeValueAsBytes(record))
    println("@@done")
  }
}

final class GbifBench(spark: SparkSession, data: String, outBase: String, tagMode: Boolean) {
  import GbifBench.Span

  private val taxa = s"$data/taxa.csv"
  private val configYaml = new String(Files.readAllBytes(Paths.get(s"$data/config.yml")), UTF_8)
  val spans = mutable.ArrayBuffer.empty[Span]
  var writeBytes = 0L

  private def backbone: DataFrame = spark.read.parquet(s"$data/backbone.parquet")
  private def occurrence: DataFrame = spark.read.parquet(s"$data/occurrence.parquet")

  private def run(cfg: FilterConfig): DataFrame = GbifFilterJob.run(
    Sources.readTaxaCsv(spark, taxa, cfg.sep), backbone, occurrence, cfg, tagMode)

  /** The product path, as GbifFilterApp runs it. */
  def job(out: String): Unit = {
    val cfg = FilterConfig.fromYaml(configYaml)
    Sources.writeCsv(run(cfg), out, cfg.sep)
  }

  private def span[T](id: Int, name: String, parent: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(BenchListener.SpanKey, name)
    val t0 = System.nanoTime()
    try body finally {
      spans += Span(id, name, parent, t0, System.nanoTime())
      spark.sparkContext.setLocalProperty(BenchListener.SpanKey, null)
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Each layer's public call (build span) and the `noop`-sink write of
    * its output (exec span), in job order. Upstream results are rebuilt
    * by each exec, except `tagged`, which the job persists. */
  def layers(id: Int): Unit = {
    val cfg = FilterConfig.fromYaml(configYaml)
    def layer[T <: DataFrame](name: String)(build: => T): T = {
      val df = span(id, s"$name/build", "layers")(build)
      span(id, s"$name/exec", "layers")(noop(df))
      df
    }
    val bb = backbone
    val occ = occurrence
    val input = layer("sources.read")(Sources.readTaxaCsv(spark, taxa, cfg.sep))
    val resolved = layer("taxonomy.resolve")(TaxonomyResolver.resolve(input, bb, cfg))
    layer("geo.zone_scan")(occ.filter(GeoFunctions.zonePredicate(col("decimalLatitude"),
      col("decimalLongitude"), col("countryCode"), cfg.geometry, cfg.country)))
    layer("occurrence.inzone_keys")(OccurrenceFilter.inZoneKeys(occ, cfg))
    val tagged = layer("occurrence.tag") {
      val t = OccurrenceFilter.tagExistsInZone(resolved, occ, cfg)
      if (cfg.resolveToRank.isDefined) Persisted.track(t.persist(StorageLevel.MEMORY_AND_DISK))
      else t
    }
    val withChildren =
      if (cfg.resolveToRank.isDefined)
        layer("rank.children")(RankResolver.resolveChildren(tagged, bb, occ, cfg))
      else tagged
    val shaped = layer("shaper.shape")(
      OutputShaper.shape(withChildren, input.columns.toSeq, cfg, tagMode))
    span(id, "sources.write/exec", "layers")(
      Sources.writeCsv(shaped, s"$outBase/layers", cfg.sep))
    Persisted.unpersistAll()
  }

  /** The product path split into build, plan and exec spans. */
  def splitJob(id: Int, out: String): Unit = {
    val cfg = FilterConfig.fromYaml(configYaml)
    val result = span(id, "job/build", "job")(run(cfg))
    span(id, "job/plan", "job")(result.queryExecution.executedPlan)
    span(id, "job/exec", "job")(Sources.writeCsv(result, out, cfg.sep))
    writeBytes = new File(out).listFiles().filter(_.getName.startsWith("part-"))
      .map(_.length).sum
  }

  /** Rows each input table's scans return in one job, keyed by file name:
    * one execution of the job's plan, walked after it ran (adaptive stages,
    * cached relations and subqueries included; reused exchanges re-read
    * nothing, so they are skipped). */
  def scanRows(): Map[String, Long] = {
    val qe = run(FilterConfig.fromYaml(configYaml)).queryExecution
    SQLExecution.withNewExecutionId(qe, Some("scan rows"))(
      qe.executedPlan.execute().foreach(_ => ()))
    val rows = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => ()
      case m: InMemoryTableScanExec =>
        if (seen.add(m.relation.cachedPlan)) walk(m.relation.cachedPlan)
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.foreach(path =>
          rows(path.getName) += f.metrics("numOutputRows").value)
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    Persisted.unpersistAll()
    rows.toMap
  }
}
