package graftbench

import graft.{Persisted, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Closed-loop runner of the operator library's gates for the benchmark.
  *
  * A pass runs every gate once, one after the other: the gate's public
  * function is called (build), its physical plan is made (plan), and its
  * every column is written to Spark's `noop` sink (exec). A pass's time is
  * the sum of its gates' build, plan and exec times; caches are dropped
  * between gates, outside the timed parts.
  *
  * The session starts and the check pass runs: every gate's output is
  * written as parquet under `out/check/<gate>`, beside
  * `out/check/oracle_sql.json`, for the parent to replay and compare
  * after the run. It is also the warm-up pass, and stages the fixtures
  * the gates read, as `SparkEntry` does on first use. Then `@@ready` is
  * printed, and:
  *  - `measure`: timed passes until their summed time reaches `seconds`,
  *               at least [[MinPasses]];
  *  - `trace`:   until `seconds` of wall time have passed, and at least
  *               [[MinPairs]] times, a plain pass and a traced pass, which
  *               take turns at going first; in a traced pass the
  *               [[BenchListener]] is attached and each gate's build, plan
  *               and exec run in spans named after the gate's family.
  *
  * Arguments are `key=value` pairs; `gates` is `name:family,...`. The run
  * record is written as JSON to `result`.
  */
object OpsBench {
  // the first timed passes are still warming: a median over three drops
  // the slowest of them
  val MinPasses = 3
  val MinPairs = 2

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val mode = a("mode")
    val data = a("data")
    val outBase = a("out")
    val cores = a("cores").toInt
    val gates = a("gates").split(',').toSeq.map { g =>
      val Array(name, family) = g.split(':')
      (name, family, SparkEntry.queries(name))
    }
    // the session graft.Verify builds
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("operators-bench")
      .config("spark.sql.shuffle.partitions",
        graft.ops.Parallelism.derivedShufflePartitions(data, cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("localDir"))
      .config("spark.sql.warehouse.dir", s"$outBase/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    def span[T](name: String, traced: Boolean)(body: => T): (T, Double) = {
      if (traced) spark.sparkContext.setLocalProperty(BenchListener.SpanKey, name)
      val t0 = System.nanoTime()
      try (body, (System.nanoTime() - t0) / 1e9)
      finally if (traced) spark.sparkContext.setLocalProperty(BenchListener.SpanKey, null)
    }
    val check = s"$outBase/check"
    def pass(k: Int, kind: String): Map[String, Any] = {
      val traced = kind == "traced"
      def exec(name: String, df: DataFrame): Unit =
        if (kind == "check") df.coalesce(1).write.mode("overwrite").parquet(s"$check/$name")
        else noop(df)
      val results = gates.map { case (name, family, fn) =>
        val times = mutable.LinkedHashMap("build" -> 0.0, "plan" -> 0.0, "exec" -> 0.0)
        val err = try {
          val (df, b) = span(s"$family/build", traced)(fn(spark, data))
          times("build") = b
          times("plan") = span(s"$family/plan", traced)(df.queryExecution.executedPlan)._2
          times("exec") = span(s"$family/exec", traced)(exec(name, df))._2
          None
        } catch { case e: Exception =>
          e.printStackTrace()
          Some(e.toString.replace('\n', ' ').take(300))
        }
        Persisted.unpersistAll()
        spark.catalog.clearCache()
        Map("gate" -> name, "family" -> family, "error" -> err.orNull) ++ times
      }
      val s = results.map(r => Seq("build", "plan", "exec").map(r(_).asInstanceOf[Double]).sum).sum
      println(s"@@pass $k $kind $s")
      Map("k" -> k, "kind" -> kind, "s" -> s, "gates" -> results)
    }

    val checkPass = pass(-1, "check")
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(s"$check/oracle_sql.json"), json.writeValueAsBytes(
      gates.map { case (name, _, _) => name -> SparkEntry.oracleSql(name) }.toMap))
    val ready = System.nanoTime()
    val allocReady = Jvm.allocatedBytes
    println("@@ready")
    val seconds = a("seconds").toDouble
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val listener = new BenchListener
    if (mode == "measure") {
      var timed = 0.0
      while (timed < seconds || passes.size < MinPasses) {
        passes += pass(passes.size, "pass")
        timed += passes.last("s").asInstanceOf[Double]
      }
    } else {
      while ((System.nanoTime() - ready) / 1e9 < seconds || passes.size < 2 * MinPairs) {
        // plain and traced passes take turns going first, so that the
        // last of the JIT warming favours neither
        val pair = Seq[() => Map[String, Any]](
          () => pass(passes.size, "pass"),
          () => BenchListener.attached(spark.sparkContext, listener)(pass(passes.size, "traced")))
        (if (passes.size % 4 == 0) pair else pair.reverse).foreach(p => passes += p())
      }
    }
    val runEnd = System.nanoTime()
    val allocTimed = Jvm.allocatedBytes - allocReady

    val hwmKb = Jvm.vmHwmKb()
    spark.stop()
    val record = Map(
      "mode" -> mode,
      "cores" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "vm_hwm_kb" -> hwmKb,
      "alloc_bytes_timed" -> allocTimed,
      "session_s" -> sessionS,
      "check_pass" -> checkPass,
      "ready_to_end_s" -> (runEnd - ready) / 1e9,
      "passes" -> passes,
      "listener" -> listener.totals)
    Files.write(Paths.get(a("result")), json.writeValueAsBytes(record))
    println("@@done")
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
