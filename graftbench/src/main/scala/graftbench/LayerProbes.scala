package graftbench

import java.nio.file.{Files, Path}

import graft.{Graft, HashEmbedder, IndexStore, Tables}
import graft.operators.{Chunker, Dedup, Pipeline, TextAnalysis}
import graft.sources.TextCorpus
import org.apache.spark.sql.DataFrame

/** The traced run's per-layer figures. Each probe times one layer's public
  * function alone: its input is materialized first and its output is forced
  * through the `noop` writer. Other figures come from the spans and jobs the
  * workload itself recorded.
  */
object LayerProbes {

  private val ArmNames = RagWorkloads.Arms
  private val SpanGroups = Seq("ready", "refresh", "noop_refresh", "serve", "curate_call")
  private val SpanStats = Seq("wall_s" -> "s", "jobs" -> "count", "driver_s" -> "s", "task_cpu_s" -> "s")

  /** Every per-layer metric with its unit; `BENCHMARK.json` lists the same
    * names. A layer a workload never calls reports 0.
    */
  val PerLayer: Seq[(String, String)] =
    Seq("sources.discover_s", "sources.extract_cold_s", "sources.extract_warm_s",
      "chunker.chunk_s", "embedder.embed_s").map(_ -> "s") ++
    Seq("embedder.reembedded_ratio" -> "ratio", "index_store.incremental_update_s" -> "s") ++
    Seq("ann.ivf", "ann.graph", "bm25").map(_ + ".refresh_s" -> "s") ++
    Seq("ann.ivf", "ann.graph", "bm25").map(_ + ".cells_rewritten" -> "count") ++
    Seq("ann.ivf.build_s", "ann.graph.build_s", "bm25.build_s").map(_ -> "s") ++
    ArmNames.map(a => s"ann.$a.serve_p50_ms" -> "ms") ++
    ArmNames.map(a => s"ann.$a.jobs_per_serve" -> "count") ++
    RagWorkloads.RecallArms.map(a => s"ann.$a.recall_at_10" -> "ratio") ++
    Seq("index_store.bytes_ratio" -> "ratio") ++
    Seq("dedup.clusters_s", "quality.score_s", "pipeline.decontam_s", "pipeline.mixture_s",
      "pipeline.split_s", "pipeline.pack_s", "pipeline.shards_s").map(_ -> "s") ++
    (CurateWorkload.Funnel ++ CurateWorkload.Splits :+ "shard_files").map(st => s"curate.$st.docs" -> "count") ++
    SpanGroups.flatMap(g => SpanStats.map { case (st, u) => s"span.$g.$st" -> u }) ++
    Trace.LayerNames.map(l => s"spark.$l.jobs" -> "count") ++
    Seq("spark.job_p50_ms" -> "ms", "spark.job_tail_ms" -> "ms", "trace.overhead_ratio" -> "ratio")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally st.close()
    }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timed(run: Run, name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    run.span(name)(body)
    run.layer(name, (System.nanoTime() - t0) / 1e9, "s")
  }

  def lifecycle(run: Run, s: RagWorkloads.Setup, g: Graft,
                files: Map[String, Gen.FileSpec], nextIdx: Int): Unit = {
    val spark = run.spark
    val root = s.root.toString
    val excluded = Graft.DefaultExcludedFolders
    timed(run, "sources.discover_s")(noop(
      TextCorpus.read(spark, root, Graft.DefaultAllowedExt.filterNot(_ == "pdf"), excluded)))
    val cache = run.work.resolve("probe_pdf_cache").toString
    timed(run, "sources.extract_cold_s")(noop(
      TextCorpus.readPdfAsText(spark, root, excluded, cachePath = Some(cache))))
    timed(run, "sources.extract_warm_s")(noop(
      TextCorpus.readPdfAsText(spark, root, excluded, cachePath = Some(cache))))

    val docs = spark.read.parquet(s.graftDir.resolve("documents.parquet").toString)
    timed(run, "chunker.chunk_s")(noop(Chunker.indexBuildFrom(docs)))
    val chunks = run.work.resolve("probe_chunks").toString
    Chunker.indexBuildFrom(docs).write.mode("overwrite").parquet(chunks)
    timed(run, "embedder.embed_s")(noop(
      HashEmbedder(64).embedFrame(spark.read.parquet(chunks), "chunk_text", "emb")))

    // the chunk store alone: one more churn, re-landed by a fresh facade,
    // then only incrementalUpdate
    def snapshot() = IndexStore.load(spark, s.store, g.meta).get
      .select("doc_id", "chunk_idx", "chunk_text", "file_size").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(3))).toMap
    val before = snapshot()
    val c = Gen.churn(run.seed, 1000, files, s.vocab, nextIdx)
    c.deletes.foreach(p => Files.delete(s.root.resolve(p)))
    (c.edits ++ c.adds).foreach { case (p, f) => Gen.writeFile(s.root, p, f) }
    val g2 = Graft.forDirectory(spark, root, s.graftDir.toString)
    timed(run, "index_store.incremental_update_s")(g2.incrementalUpdate(s.store).collect())
    val after = snapshot()
    val oldSize = before.map { case ((d, _), (_, fs)) => d -> fs }
    val reembedded = after.count { case ((d, _), (_, fs)) => !oldSize.get(d).contains(fs) }
    val dirtied = after.count { case (k, (t, _)) => !before.get(k).map(_._1).contains(t) }
    run.layer("embedder.reembedded_ratio", reembedded.toDouble / math.max(1, dirtied), "ratio")
  }

  def curate(run: Run, sf: String): Unit = {
    val spark = run.spark
    val docs = Tables.documents(spark, sf)
    timed(run, "dedup.clusters_s")(noop(Dedup.nearDupClusters(spark, sf)))
    timed(run, "quality.score_s")(noop(TextAnalysis.qualityScoreOver(docs)))
    timed(run, "pipeline.decontam_s")(noop(Pipeline.contaminationCheck(spark, sf)))
    timed(run, "pipeline.mixture_s")(noop(Pipeline.applyMixture(docs, Pipeline.mixtureRates(docs))))
    timed(run, "pipeline.split_s")(noop(Pipeline.splitLeakageSafeOver(docs,
      CurateWorkload.TestPermille, CurateWorkload.ValPermille)))
    timed(run, "pipeline.pack_s")(noop(Pipeline.packSequencesOver(docs)))
    timed(run, "pipeline.shards_s")(
      Pipeline.writeShards(docs, run.work.resolve("probe_shards").toString).collect())
  }

  /** Figures taken from the recorded spans and jobs, then every metric the
    * workload did not produce set to 0, in [[PerLayer]] order.
    */
  def finish(run: Run, t: Trace): Unit = {
    val top = t.spans.filter(_.parent == -1).toSeq
    def group(g: String) = g match {
      case "serve" => top.filter(_.name.startsWith("serve."))
      case _ => top.filter(_.name == g)
    }
    SpanGroups.foreach { g =>
      val costs = group(g).map(t.cost)
      if (costs.nonEmpty) {
        run.layer(s"span.$g.wall_s", Stats.median(costs.map(_.wallS)), "s")
        run.layer(s"span.$g.jobs", Stats.median(costs.map(_.jobs.toDouble)), "count")
        run.layer(s"span.$g.driver_s", Stats.median(costs.map(_.driverS)), "s")
        run.layer(s"span.$g.task_cpu_s", Stats.median(costs.map(_.taskCpuS)), "s")
      }
    }
    // refresh phases of the derived stores inside each traced round
    val roundReindex = t.spans.filter(sp => sp.name == "reindex" && sp.parent >= 0 &&
      t.spans(sp.parent).name == "refresh").toSeq
    Seq("ann.ivf" -> "operators.AnnIvf", "ann.graph" -> "operators.AnnGraph",
      "bm25" -> "operators.Bm25Store").foreach { case (n, module) =>
      val ts = roundReindex.flatMap(t.moduleTimeS(_, module))
      if (ts.nonEmpty) run.layer(s"$n.refresh_s", Stats.median(ts), "s")
    }
    Seq("ivf" -> "ann.ivf", "graph" -> "ann.graph", "bm25" -> "bm25").foreach { case (span, n) =>
      t.named(s"build.$span").headOption.foreach(sp => run.layer(s"$n.build_s", sp.wallS, "s"))
    }
    t.jobsByLayer.foreach { case (l, n) => run.layer(s"spark.$l.jobs", n, "count") }
    val jobMs = t.jobDurationsMs
    if (jobMs.nonEmpty) run.layer("spark.job_p50_ms", Stats.median(jobMs), "ms")
    Stats.tail(jobMs).foreach { tl =>
      run.layer("spark.job_tail_ms", tl.value, "ms")
      run.note("spark_job_tail_pct", tl.level, "pct")
      run.note("spark_jobs", tl.n, "count")
    }
    val ratios = run.toggled.values.collect {
      case (on, off) if on.nonEmpty && off.nonEmpty => Stats.median(on.toSeq) / Stats.median(off.toSeq)
    }.toSeq
    if (ratios.nonEmpty) {
      run.layer("trace.overhead_ratio", Stats.median(ratios) - 1.0, "ratio")
      run.note("trace_overhead_ratio", Stats.median(ratios) - 1.0, "ratio")
    }
    val got = run.metrics.toMap
    run.metrics.clear()
    PerLayer.foreach { case (n, u) => run.metrics(n) = got.getOrElse(n, (0.0, u)) }
    val unknown = got.keySet -- PerLayer.map(_._1)
    if (unknown.nonEmpty) {
      run.failed += 1
      run.problems += s"unlisted per-layer metrics: ${unknown.mkString(", ")}"
    }
  }
}
