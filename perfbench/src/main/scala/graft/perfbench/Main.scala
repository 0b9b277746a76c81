package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed unit of work. `kind` groups ops for the metrics (the
  * unit op of each workload is named in its [[Workload.unitKinds]]).
  */
final case class Op(kind: String, name: String, pass: Int, startS: Double,
    durS: Double, ok: Boolean, error: Option[(String, String)],
    extra: Map[String, Double])

/** Everything a workload needs from the runner. */
final class Ctx(val spark: SparkSession, val trace: Trace, val traced: Boolean,
    val seed: Long, val data: String, val work: String) {
  val ops = mutable.ArrayBuffer.empty[Op]
  var pass = 0
  private var t0 = System.nanoTime()
  def startClock(): Unit = t0 = System.nanoTime()
  def clockS: Double = (System.nanoTime() - t0) / 1e9

  /** Time `body` as an op and record it; a throw is recorded with its
    * class and message and returns None, so one failed op never ends
    * the run.
    */
  def op[A](kind: String, name: String, extra: => Map[String, Double] =
      Map.empty)(body: => A): Option[A] = {
    val start = clockS
    val t = System.nanoTime()
    val r = try Right(trace.span(s"$kind:$name", "op")(body))
    catch { case e: Throwable => Left(e) }
    val dur = (System.nanoTime() - t) / 1e9
    r match {
      case Right(v) =>
        ops += Op(kind, name, pass, start, dur, ok = true, None, extra)
        Some(v)
      case Left(e) =>
        ops += Op(kind, name, pass, start, dur, ok = false,
          Some((e.getClass.getName, String.valueOf(e.getMessage)
            .take(2000))), Map.empty)
        None
    }
  }
}

/** A benchmark workload: set-up once, a unit of set-up that can be
  * repeated, and passes of ops measured until the run's time is up.
  */
trait Workload {
  /** Op kinds that count as the workload's unit op. */
  def unitKinds: Set[String]
  /** Passes a run makes even when `--seconds` is up sooner, so a slow
    * box does not change how many samples a run takes.
    */
  def minPasses: Int = 1
  /** Warm-up and one-time set-up (Serve warm-up pass, master build). */
  def warmup(ctx: Ctx): Unit
  /** The repeatable part of set-up; its median enters `setup_s`. */
  def setupUnit(ctx: Ctx): Unit
  def pass(ctx: Ctx): Unit
  /** Per-layer numbers the workload measures itself, called after
    * every pass of a traced run with the pass's Spark-side numbers;
    * kept for the traced passes.
    */
  def afterPass(ctx: Ctx, pass: Map[String, Double]): Map[String, Double] =
    Map.empty
  /** Output checks, run after the measured window; writes what the
    * DuckDB side of the check needs under `ctx.work` and returns extra
    * result fields.
    */
  def check(ctx: Ctx): Map[String, Any]
}

object Main {
  /** Run independent set-up tasks on `n` threads (warm-ups are set-up,
    * not measured ops, and the program is safe to call concurrently).
    */
  def parallel(n: Int)(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def session(cpus: Int, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (traced)
      b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    b.getOrCreate()
  }

  /** The load canary: a fixed computation whose time depends only on
    * how much CPU the box gives this run. Median of three, after one
    * unmeasured run that compiles it.
    */
  def canary(spark: SparkSession): Double = (0 to 3).map { _ =>
    val t = System.nanoTime()
    spark.range(50000000L).selectExpr("sum(id * 3)").collect()
    (System.nanoTime() - t) / 1e9
  }.drop(1).sorted.apply(1)

  def main(args: Array[String]): Unit = {
    val name = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val out = arg(args, "out")
    val cpus = Runtime.getRuntime.availableProcessors
    val tSession = System.nanoTime()
    val spark = session(cpus, traced)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val trace = new Trace(spark)
    if (traced) trace.install()
    val ctx = new Ctx(spark, trace, traced, seed, arg(args, "data"),
      arg(args, "work"))
    val w: Workload = name match {
      case "plan_browse" => new PlanBrowse
      case "query_mix" => new QueryMix
      case "ingest_keep_best" => new IngestKeepBest
      case other => sys.error(s"unknown workload $other")
    }
    val canaryStart = canary(spark)
    def secs(body: => Unit): Double = {
      val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
    }
    val warmupS = secs(w.warmup(ctx))
    val unitS = (1 to 3).map(_ => secs(w.setupUnit(ctx)))
    ctx.ops.clear()

    // measured window: whole passes until `seconds` have elapsed and
    // at least `minPasses` ran. In a traced run passes alternate
    // untraced / traced, at least one of each, so the same run yields
    // the per-layer split and the overhead.
    val passes = mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val traceLines = mutable.ArrayBuffer.empty[String]
    ctx.startClock()
    val minPasses = if (traced) w.minPasses.max(2) else w.minPasses
    while (ctx.clockS < seconds || ctx.pass < minPasses) {
      ctx.pass += 1
      val on = traced && ctx.pass % 2 == 0
      trace.on = on
      if (on) trace.begin()
      val t = System.nanoTime()
      w.pass(ctx)
      val passS = (System.nanoTime() - t) / 1e9
      trace.on = false
      passes += ((ctx.pass, passS, on))
      if (traced) {
        val win = if (on) Some(trace.end()) else None
        val base = win.map(Layers.of(_, passS)).getOrElse(Map.empty)
        val own = w.afterPass(ctx, base)
        win.foreach { x =>
          layers += Layers.merge(base, own)
          traceLines ++= Layers.spanLines(x, ctx.pass)
        }
      }
    }
    val windowS = ctx.clockS
    val checks = w.check(ctx)
    val canaryEnd = canary(spark)
    if (traced) trace.stop()

    val res = Map[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "nproc" -> cpus,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "canary_start_s" -> canaryStart, "canary_end_s" -> canaryEnd,
      "session_s" -> sessionS, "warmup_s" -> warmupS,
      "setup_unit_s" -> unitS, "window_s" -> windowS,
      "unit_kinds" -> w.unitKinds.toSeq.sorted,
      "passes" -> passes.map { case (i, s, on) =>
        Map("pass" -> i, "pass_s" -> s, "traced" -> on) },
      "ops" -> ctx.ops.map(o => Map[String, Any](
        "kind" -> o.kind, "name" -> o.name, "pass" -> o.pass,
        "start_s" -> o.startS, "dur_s" -> o.durS, "ok" -> o.ok,
        "error_class" -> o.error.map(_._1).orNull,
        "error_message" -> o.error.map(_._2).orNull) ++ o.extra),
      "layers_by_pass" -> layers,
      "checks" -> checks)
    Files.write(new File(out).toPath, Json(res).getBytes(UTF_8))
    if (traced)
      Files.write(new File(out.stripSuffix(".json") + ".spans.jsonl").toPath,
        traceLines.mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()
  }
}

/** Minimal JSON encoder for the result file. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
