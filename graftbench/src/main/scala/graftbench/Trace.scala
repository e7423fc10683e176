package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Benchmark-side tracing: spans around the benchmark's own calls into the
  * program, plus a listener that attaches Spark jobs, stages, task CPU and
  * shuffle bytes to them. Everything stays in memory until [[dump]].
  *
  * Jobs are matched to spans by submission time (the client is one closed
  * loop, so whatever runs inside a span's interval ran for it). Each job is
  * attributed to a module by the innermost `graft.*` frame of its call site
  * (`StageInfo.details`). Adaptive execution submits most jobs from a pool
  * thread whose call site holds no `graft.*` frame; those take the frames
  * of the client thread's stack at job start, where the client sits blocked
  * in the call that caused the job.
  */
final class Trace(sc: SparkContext, client: Thread) {
  import Trace._


  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageCost = mutable.HashMap.empty[Int, StageCost]
  private var jobsEnded = 0
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  private val FrameRe = """^\s*(?:at\s+)?graft\.([A-Za-z0-9_.]+?)\$?\.([^.(]+)\(""".r

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val details = e.stageInfos.headOption.map(_.details).getOrElse("")
      val site = details.split('\n').toSeq
        .flatMap(l => FrameRe.findFirstMatchIn(l).map(m => m.group(1) + "." + m.group(2)))
      val frames = if (site.nonEmpty) site else client.getStackTrace.toSeq
        .filter(_.getClassName.startsWith("graft."))
        .map(f => f.getClassName.stripPrefix("graft.").takeWhile(_ != '$') + "." + f.getMethodName)
      jobs += Job(e.jobId, e.time, -1L, e.stageIds, frames)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      jobsEnded += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val m = e.stageInfo.taskMetrics
      if (m != null) stageCost(e.stageInfo.stageId) = StageCost(m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def attach(): Unit = sc.addSparkListener(listener)
  def detach(): Unit = { settle(); sc.removeSparkListener(listener) }

  def span[A](name: String)(body: => A): A = {
    val s = Span(name, open.headOption.getOrElse(-1), System.currentTimeMillis(), System.nanoTime())
    val idx = synchronized { spans += s; spans.length - 1 }
    open = idx :: open
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  /** Wait until the listener bus has delivered every job end seen so far. */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = synchronized(jobsEnded >= jobs.length && jobs.forall(_.end >= 0))
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(50)
  }

  def jobsIn(s: Span): Seq[Job] = synchronized {
    jobs.filter(j => j.start >= s.startMs && j.start <= s.endMs).toSeq
  }

  def cost(s: Span): Cost = {
    val js = jobsIn(s)
    val stageIds = js.flatMap(_.stages).distinct
    val costs = synchronized(stageIds.flatMap(stageCost.get))
    var covered = 0L
    var reach = s.startMs
    js.map(j => (math.max(j.start, s.startMs), math.min(if (j.end < 0) s.endMs else j.end, s.endMs)))
      .sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
    Cost(s.wallS, js.length, costs.length, costs.map(_.cpuNs).sum / 1e9,
      costs.map(_.shuffleBytes).sum, math.max(0.0, s.wallS - covered / 1000.0))
  }

  /** Time from the first to the last job of `module` inside a span. */
  def moduleTimeS(s: Span, module: String): Option[Double] = {
    val js = jobsIn(s).filter(_.frames.exists(_.startsWith(module)))
    if (js.isEmpty) None
    else Some((js.map(j => if (j.end < 0) j.start else j.end).max - js.map(_.start).min) / 1000.0)
  }

  def named(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toSeq)

  /** Submission-to-end time of every finished job of the run. */
  def jobDurationsMs: Seq[Double] = synchronized(jobs.filter(_.end >= 0).map(j => (j.end - j.start).toDouble).toSeq)

  /** Every job of the run, counted by layer. */
  def jobsByLayer: Map[String, Int] = synchronized {
    jobs.toSeq.groupBy(j => Trace.layerOf(j.frames)).map { case (k, v) => k -> v.length }
  }

  /** Spans with their costs and per-module job counts, as JSON lines. */
  def dump(out: java.nio.file.Path): Unit = {
    val lines = synchronized(spans.toSeq).zipWithIndex.map { case (s, i) =>
      val c = cost(s)
      val mods = jobsIn(s).groupBy(_.module).map { case (m, v) =>
        Json.str(if (m.isEmpty) "spark" else m) + ":" + v.length }.mkString(",")
      s"""{"id":$i,"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"wall_s":${c.wallS},"jobs":${c.jobs},"stages":${c.stages},""" +
        s""""task_cpu_s":${c.taskCpuS},"shuffle_bytes":${c.shuffleBytes},"driver_s":${c.driverS},""" +
        s""""jobs_by_module":{$mods}}"""
    }
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, lines.mkString("\n").getBytes("UTF-8"))
  }
}

object Trace {

  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int], frames: Seq[String]) {
    /** Innermost graft frame, e.g. `operators.AnnIvf.refreshIndexOver`, or "" when none. */
    def module: String = frames.headOption.getOrElse("")
  }
  final case class StageCost(cpuNs: Long, shuffleBytes: Long)
  final case class Span(name: String, parent: Int, startMs: Long, startNs: Long,
                        var endMs: Long = -1L, var endNs: Long = -1L) {
    def wallS: Double = (endNs - startNs) / 1e9
  }


  /** Cost of one span: wall time, jobs, stages, task CPU, shuffle bytes and
    * driver time (the part of the wall no Spark job of the span covered).
    */
  final case class Cost(wallS: Double, jobs: Int, stages: Int, taskCpuS: Double,
                        shuffleBytes: Long, driverS: Double)


  /** This repo's modules (and the facade methods that do a layer's work
    * themselves), grouped into the benchmark's layers. The innermost frame
    * that matches decides; shared helpers (`AnnStore`, `Tables`, the rest
    * of the facade) match nothing, so their jobs go to the caller's layer.
    */
  val Layers: Seq[(String, Seq[String])] = Seq(
    "sources" -> Seq("sources.", "Graft.landDocuments", "Graft.discoverDocuments"),
    "chunker" -> Seq("operators.Chunker.", "functions.Text."),
    "embedder" -> Seq("HashEmbedder.", "Embedder.", "TransformerEmbedder.", "plans.VecExprs."),
    "index_store" -> Seq("IndexStore.", "Graft.incrementalUpdate"),
    "ann" -> Seq("operators.AnnIvf.", "operators.AnnGraph.", "operators.AnnHnsw.",
      "operators.AnnPq.", "operators.AnnSq.", "operators.RagSearch."),
    "bm25" -> Seq("operators.Bm25"),
    "dedup" -> Seq("operators.Dedup."),
    "quality" -> Seq("operators.TextAnalysis."),
    "pipeline" -> Seq("operators.Pipeline.", "Graft.buildTrainingSet"))

  val LayerNames: Seq[String] = Layers.map(_._1) :+ "spark"

  def layerOf(frames: Seq[String]): String =
    frames.iterator.flatMap(f => Layers.find(_._2.exists(f.startsWith)).map(_._1))
      .find(_ => true).getOrElse("spark")
}
