package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.{Q, Sessions, Tables}

/** Outside-in benchmark harness: one workload per JVM.
  *
  * {{{
  *   perfbench.Main --workload <analytic_full|portal_mixed|stream_replay>
  *     --seed N --seconds S --trace 0|1 --data DIR --work DIR --out FILE
  *     [--cores N]
  * }}}
  *
  * The program is reached only through its public entry points: the
  * registry rows (`Q.fn`), `service.Portal`, `store.Catalog` and the
  * `store.sql.GraftTableCatalog` SQL front door. Every workload runs
  * set-up, an untimed cold pass (which also produces the outputs checked
  * for correctness), an untimed warm pass, and a closed-loop timed phase
  * of whole passes over its seeded operation list. Raw samples and
  * checks go to `--out` as JSON; the Python side (`run.py`) runs the
  * DuckDB oracle and derives the metrics.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, out: String, cores: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("data"), req("work"), req("out"),
      m.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  /** One timed sample of the closed loop. */
  final case class Sample(op: String, kind: String, pass: Int, ms: Double,
      ok: Boolean)

  /** One client operation. `run` throws on failure or wrong output. */
  final case class Op(name: String, kind: String, run: () => Unit)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val spark = Sessions.tune(SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM launch to a usable session
    val sessionStartMs = (System.currentTimeMillis() - jvmStartMs).toDouble
    val res = new Result(a)
    res.num("core.session_start_ms", sessionStartMs)
    try {
      val w: Workload = a.workload match {
        case "analytic_full" => new RowsWorkload(spark, a, res, Rows.analytic)
        case "stream_replay" => new RowsWorkload(spark, a, res, Rows.stream)
        case "portal_mixed" => new PortalWorkload(spark, a, res)
        case other => sys.error(s"unknown workload $other")
      }
      w.run()
    } catch {
      case e: Throwable =>
        res.error = Some(s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    res.env(spark)
    res.num("peak_rss_mb", JvmStats.peakRssMb)
    Files.writeString(Paths.get(a.out), res.toJson)
    spark.stop()
  }
}

/** Raw measurements of one run, serialised as JSON. */
final class Result(a: Main.Args) {
  val nums = mutable.LinkedHashMap.empty[String, Double]
  val strs = mutable.LinkedHashMap.empty[String, String]
  val samples = mutable.ArrayBuffer.empty[Main.Sample]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val outputs = mutable.LinkedHashMap.empty[String, (String, Option[String])]
  val layerSelf = mutable.ArrayBuffer.empty[(String, Double)]
  val spans = mutable.ArrayBuffer.empty[Span]
  var runId = ""
  var error: Option[String] = None

  def num(k: String, v: Double): Unit = nums(k) = v
  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += ((name, ok, detail))

  def env(spark: SparkSession): Unit = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val flags = rt.getInputArguments.toArray.map(_.toString)
      .filter(f => f.startsWith("-Xmx") || f.contains("CodeCache"))
    strs ++= Seq(
      "spark_version" -> spark.version,
      "jdk" -> System.getProperty("java.runtime.version"),
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "jvm_flags" -> flags.mkString(" "),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString)
  }

  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  private def n(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def toJson: String = {
    val sb = new StringBuilder("{\n")
    sb ++= s""" "workload": ${q(a.workload)}, "seed": ${a.seed}, "trace": ${a.trace},\n"""
    sb ++= s""" "run_id": ${q(runId)}, "error": ${error.map(q).getOrElse("null")},\n"""
    sb ++= " \"env\": {" + strs.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString(", ") + "},\n"
    sb ++= " \"nums\": {" + nums.map { case (k, v) => s"${q(k)}: ${n(v)}" }
      .mkString(", ") + "},\n"
    sb ++= " \"checks\": [" + checks.map { case (k, ok, d) =>
      s"""{"name": ${q(k)}, "ok": $ok, "detail": ${q(d)}}""" }.mkString(",\n  ") + "],\n"
    sb ++= " \"outputs\": {" + outputs.map { case (k, (path, ora)) =>
      s"""${q(k)}: {"path": ${q(path)}, "oracle": ${ora.map(q).getOrElse("null")}}"""
    }.mkString(",\n  ") + "},\n"
    sb ++= " \"layer_self_ms\": {" + layerSelf.map { case (k, v) =>
      s"${q(k)}: ${n(v)}" }.mkString(", ") + "},\n"
    sb ++= " \"spans\": [" + spans.map { s =>
      s"""[${s.id}, ${s.parent}, ${q(s.layer)}, ${q(s.name)}, ${n(s.start)}, ${n(s.end)}]"""
    }.mkString(",\n  ") + "],\n"
    sb ++= " \"samples\": [" + samples.map { s =>
      s"""[${q(s.op)}, ${q(s.kind)}, ${s.pass}, ${n(s.ms)}, ${s.ok}]"""
    }.mkString(",\n  ") + "]\n}\n"
    sb.toString
  }
}

/** Shared set-up / warm-up / timed-loop skeleton. */
abstract class Workload(val spark: SparkSession, val a: Main.Args,
    val res: Result) {
  /** Set-up work repeated for the set-up median; returns nothing. */
  def setupOnce(i: Int): Unit
  /** How many times [[setupOnce]] runs (median reported). */
  def setupRepeats: Int
  /** Untimed cold pass; the registry workloads also write the outputs
    * checked for correctness here. */
  def warmup(): Unit
  /** The seeded operation list of one pass. */
  def pass(i: Int): IndexedSeq[Main.Op]
  /** Called as each timed phase starts. */
  def beforePhase(): Unit = ()
  /** Post-run correctness checks (outside the timed window). */
  def verify(): Unit = ()
  /** Per-layer metrics only the workload knows (store, streaming). */
  def layerMetrics(tr: Tracer): Unit = ()

  var tracer: Option[Tracer] = None

  def span[T](layer: String, name: String)(body: => T): T = tracer match {
    case Some(t) => t.within(layer, name)(body)
    case None => body
  }

  def dropPersisted(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Runs one untimed operation and records its outcome as a check, so
    * a failure outside the timed window still counts in `failed`. */
  def untimed(phase: String, name: String)(body: => Unit): Unit = {
    val err = try { body; "" } catch { case e: Throwable =>
      System.err.println(s"[perfbench] $phase $name failed: $e")
      e.toString
    }
    res.check(s"$phase.$name", err.isEmpty, err)
  }

  def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  private var passNo = 0

  def run(): Unit = {
    // fixture schema load (the registry reads every table through here)
    res.num("core.schema_load_ms", timeMs {
      Tables.fixtureNames.foreach { t =>
        if (Files.exists(Paths.get(a.data, s"$t.parquet")))
          Tables.load(spark, a.data, t).schema
      }
    })
    val setups = (0 until setupRepeats).map(i => timeMs(setupOnce(i)))
    res.num("setup_repeat_median_ms", median(setups))
    res.num("setup_repeats", setups.size.toDouble)
    res.num("warmup_ms", timeMs(warmup()))
    dropPersisted()
    // one more untimed pass, run exactly as the timed ones: the first
    // pass after a cold one still pays most of the C2 compilation
    res.num("warm_pass_ms", timeMs(pass(passNo).foreach { op =>
      untimed("warm", op.name)(op.run())
      dropPersisted()
    }))
    passNo += 1

    if (a.trace) {
      // the same phase untraced first: the tracing overhead is the
      // traced pass wall minus this one
      val (untraced, untracedWall) = timedPhase()
      res.num("untraced_pass_wall_s", untracedWall)
      untraced.filterNot(_.ok).foreach(s => res.check(s"untraced.${s.op}", false))
      val t = new Tracer(spark, java.util.UUID.randomUUID().toString)
      res.runId = t.runId
      t.register()
      tracer = Some(t)
    }
    val gc0 = JvmStats.gcMs; val jit0 = JvmStats.jitMs
    val cpu0 = JvmStats.cpuMs
    val root = tracer.map(_.open("workload", a.workload))
    val (samples, passWall) = timedPhase()
    root.foreach(x => tracer.get.close(x))
    res.num("cpu_ms_per_pass", (JvmStats.cpuMs - cpu0) / res.nums("passes"))
    res.samples ++= samples
    res.num("pass_wall_median_s", passWall)
    res.num("jvm.gc_ms", (JvmStats.gcMs - gc0).toDouble)
    res.num("jvm.jit_ms", (JvmStats.jitMs - jit0).toDouble)
    res.num("jvm.code_cache_mb", JvmStats.codeCacheMb)
    tracer.foreach { t =>
      t.finish().foreach { case (k, v) => res.num(k, v) }
      res.layerSelf ++= t.selfTimeByLayer
      res.spans ++= t.spans
      val opSpans = t.spans.filter(_.layer == "operation")
      res.num("service.driver_self_ms",
        median(opSpans.map(t.driverSelfMs).toSeq))
      res.num("plans.actions_per_op", res.nums("plans.actions") / opSpans.size)
      res.num("spark.jobs_per_op", res.nums("spark.jobs") / opSpans.size)
      layerMetrics(t)
    }
    verify()
  }

  /** Closed loop over whole passes: a pass starts only while it is
    * expected to end within `--seconds` (judged by the median pass so
    * far), and at least one pass always runs. Returns the samples and
    * the median pass wall time. */
  private def timedPhase(): (Seq[Main.Sample], Double) = {
    val out = mutable.ArrayBuffer.empty[Main.Sample]
    val walls = mutable.ArrayBuffer.empty[Double]
    beforePhase()
    val phase0 = System.nanoTime()
    def elapsed = (System.nanoTime() - phase0) / 1e9
    while (walls.isEmpty || elapsed + median(walls.toSeq) <= a.seconds) {
      val ops = pass(passNo)
      val ps = System.nanoTime()
      ops.foreach { op =>
        val s = tracer.map(_.open("operation", op.name))
        val t0 = System.nanoTime()
        val ok = try { op.run(); true } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] ${op.name} failed: $e")
            false
        }
        val ms = (System.nanoTime() - t0) / 1e6
        s.foreach(x => tracer.get.close(x))
        out += Main.Sample(op.name, op.kind, passNo, ms, ok)
        dropPersisted()
      }
      walls += (System.nanoTime() - ps) / 1e9
      passNo += 1
    }
    res.num("timed_s", elapsed)
    res.num("passes", walls.size.toDouble)
    (out.toSeq, median(walls.toSeq))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** The fixed row lists of the two registry workloads, each sized so one
  * warm pass takes 6 to 8 s on four cores at sf0.1 (README.md, "Row
  * lists and run length"). */
object Rows {
  /** TPC-H-style headline rows, one graft-planned as-of join and one
    * interval join, a heavy warehouse row and two kernel-bound ext rows. */
  val analytic: Seq[String] = Seq(
    "q1_pricing_summary", "q5_local_supplier_volume",
    "q13_order_distribution", "ext_asof_exec", "ext_interval_join",
    "ext_unpivot", "ext_dedup_exact", "ext_sim_topk_brute")

  /** Stateful sessions, watermarked dedup, a stream-stream join and the
    * store-tail source. */
  val stream: Seq[String] = Seq(
    "ext_stream_sessions", "ext_stream_dedup", "ext_stream_join",
    "ext_stream_store_tail")
}

/** `analytic_full` and `stream_replay`: registry rows, each timed from
  * `q.fn` through full materialization (`write.format("noop")`), with no
  * collect to the driver. The seed fixes the row order. */
final class RowsWorkload(spark0: SparkSession, a0: Main.Args, res0: Result,
    names: Seq[String]) extends Workload(spark0, a0, res0) {
  private val byName = graft.SparkEntry.registry.map(q => q.name -> q).toMap
  private val rows: IndexedSeq[Q] = {
    val missing = names.filterNot(byName.contains)
    require(missing.isEmpty, s"rows not in the registry: $missing")
    new scala.util.Random(a.seed).shuffle(names.map(byName)).toIndexedSeq
  }
  private def layerOf(q: Q): String =
    if (q.name.startsWith("ext_stream_")) "streaming"
    else if (q.name.startsWith("ext_")) "ext" else "ops"

  def setupRepeats: Int = 1
  /** Amortized row preparation (bucketed copies, stream staging, store
    * roots) is ingest-time work: it belongs to set-up. */
  def setupOnce(i: Int): Unit = rows.foreach { q =>
    q.setup.foreach(f => res.num(s"setup_ms.${q.name}", timeMs(f(spark, a.data))))
  }

  def warmup(): Unit = {
    val outDir = Paths.get(a.work, "out")
    spark.range(1000).selectExpr("sum(id)").collect()
    rows.foreach { q =>
      val path = outDir.resolve(q.name).toString
      val ms = timeMs(untimed("cold", q.name)(
        q.fn(spark, a.data).write.mode("overwrite").parquet(path)))
      res.num(s"warm_ms.${q.name}", ms)
      res.outputs(q.name) = (path, q.oracle)
      dropPersisted()
    }
  }

  def pass(i: Int): IndexedSeq[Main.Op] = rows.map { q =>
    Main.Op(q.name, "row", () => {
      val df = span(layerOf(q), s"build ${q.name}")(q.fn(spark, a.data))
      span("action", s"noop ${q.name}")(
        df.write.format("noop").mode("overwrite").save())
    })
  }

  override def layerMetrics(tr: Tracer): Unit = {
    val builds = tr.spans.filter(s => s.name.startsWith("build "))
    Seq("ops", "ext", "streaming").foreach { l =>
      val b = builds.filter(_.layer == l).map(_.dur).toSeq
      if (b.nonEmpty) res.num(s"$l.build_ms", b.sum)
    }
    // row time outside every trigger: query start/stop and result read
    val trig = res.nums.getOrElse("streaming.trigger_ms", 0.0)
    if (names.exists(_.startsWith("ext_stream_"))) res.num(
      "streaming.lifecycle_ms",
      math.max(0.0, builds.map(_.dur).sum - trig))
  }
}
