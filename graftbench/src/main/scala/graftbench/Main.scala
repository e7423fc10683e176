package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

/** One benchmark run: its session, work dir, seed, budget, operation
  * accounting and reported metrics.
  */
final class Run(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Int, val trace: Option[Trace]) {
  var attempted = 0L
  var failed = 0L
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  /** The workload's own named figures, printed on the detail line. */
  val detail: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty

  def traced: Boolean = trace.isDefined

  def span[A](name: String)(body: => A): A = trace match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** Samples of toggled operations, by name: (with listener, without). */
  val toggled: mutable.Map[String, (mutable.ArrayBuffer[Double], mutable.ArrayBuffer[Double])] =
    mutable.Map.empty

  /** One checked operation: `body` is timed, `check` (untimed) lists what is
    * wrong with its output. A throw or any problem counts the operation as
    * failed and yields no sample.
    *
    * With `toggle`, a traced run alternates calls of the same name with the
    * listener attached and detached, which gives the tracing overhead.
    */
  def op[A](name: String, toggle: Boolean = false)(body: => A)(check: A => Seq[String]): Option[(A, Double)] = {
    attempted += 1
    val (on, off) = toggled.getOrElseUpdate(name, (mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty))
    val untracedCall = toggle && traced && on.length > off.length
    if (untracedCall) trace.get.detach()
    System.gc() // garbage of earlier calls is not this call's cost
    val t0 = System.nanoTime()
    val res = try Right(if (untracedCall) body else span(name)(body)) catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    if (untracedCall) trace.get.attach()
    System.err.println(f"[graftbench] op $name%s ${dt}%.3f s")
    val errs = res match {
      case Left(e) => Seq(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(a) =>
        try check(a) catch { case e: Throwable => Seq(s"$name check threw ${e.getMessage}") }
    }
    if (errs.nonEmpty) {
      failed += 1
      problems ++= errs.take(5)
      System.err.println(s"[graftbench] FAILED ${errs.mkString("; ")}")
      None
    } else {
      if (toggle) (if (untracedCall) off else on) += dt
      res.toOption.map(a => (a, dt))
    }
  }

  /** An end-to-end figure: a result metric of the plain run, a detail of
    * the traced one (whose result carries only per-layer metrics).
    */
  def metric(name: String, value: Double, unit: String): Unit =
    if (traced) detail(name) = (value, unit) else metrics(name) = (value, unit)

  /** A per-layer figure, reported by the traced run only. */
  def layer(name: String, value: Double, unit: String): Unit =
    if (traced) metrics(name) = (value, unit)
  def note(name: String, value: Double, unit: String): Unit = detail(name) = (value, unit)
}

/** Benchmark entry point (run through `run.py`, which builds and launches
  * it): `--workload <rag_lifecycle|curate> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --out <result.json>`.
  */
object Main {
  val Workloads: Map[String, Run => Unit] = Map(
    "rag_lifecycle" -> RagWorkloads.lifecycle,
    "curate" -> CurateWorkload.run)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val work = Paths.get(opts("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.checkpoint.dir", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = if (opts.getOrElse("trace", "0") == "1") Some(new Trace(spark.sparkContext, Thread.currentThread())) else None
    trace.foreach(_.attach())
    val run = new Run(spark, work, opts("seed").toLong, opts("seconds").toInt, trace)
    run.note("session_start_s", sessionS, "s")
    try body(run)
    catch {
      case e: Throwable =>
        run.attempted += 1; run.failed += 1
        run.problems += s"workload aborted: $e"
        e.printStackTrace()
    }
    trace.foreach { t =>
      t.detach()
      LayerProbes.finish(run, t)
      t.dump(Paths.get(opts("out")).resolveSibling(s"trace-$workload-${run.seed}.jsonl"))
    }
    val detailLine = run.detail.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{${Json.str("value")}:${Json.num(v)},${Json.str("unit")}:${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val metricsJson = run.metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{${Json.str("value")}:${Json.num(v)},${Json.str("unit")}:${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val correct = run.failed == 0 && run.attempted > 0
    val result = s"""{"correct":$correct,"attempted":${run.attempted},"failed":${run.failed},"metrics":$metricsJson}"""
    val problems = run.problems.map(Json.str).mkString("[", ",", "]")
    Files.write(Paths.get(opts("out")),
      s"""{"detail":$detailLine,"problems":$problems,"result":$result}""".getBytes("UTF-8"))
    spark.stop()
  }
}
