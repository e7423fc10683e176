package graftbench

import java.nio.file.Path

import graft.{Graft, IndexStore}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** `rag_lifecycle`: the reference's watch loop over a generated directory
  * tree — cold index to first answers, then churn rounds of reindex + serve.
  * The traced run adds a no-op reindex, a read-only serve phase (memo hits)
  * and the per-layer probes.
  */
object RagWorkloads {
  val TopK = 10
  val NFiles = 40
  /** The arms a live watch loop keeps fresh, plus the exact scan. */
  val Arms: Seq[String] = Seq("exact", "ivf", "graph", "hybrid")
  /** Arms ranking the chunk-embedding space, so recall against the exact
    * scan is meaningful (`hybrid` fuses a lexical ranking by design).
    */
  val RecallArms: Seq[String] = Seq("ivf", "graph")

  /** The path-derived doc id discovery assigns (`abs(xxhash64(relPath))`). */
  def docId(rel: String): Long =
    math.abs(XxHash64Function.hash(UTF8String.fromString(rel), StringType, 42L))

  final case class Setup(root: Path, tree: Gen.Tree, vocab: Array[String], graftDir: Path) {
    def store: String = graftDir.resolve("chunk_store").toString
  }

  /** Session start plus tree generation, the generation repeated three
    * times (median reported) so set-up time is a steady figure.
    */
  private def setupTree(run: Run): Setup = {
    val gens = (0 until 3).map { i =>
      val root = run.work.resolve(s"tree$i")
      val t0 = System.nanoTime()
      val (tree, voc) = Gen.tree(run.seed, NFiles)
      Gen.write(root, tree.files)
      Gen.write(root, tree.excluded)
      ((System.nanoTime() - t0) / 1e9, root, tree, voc)
    }
    val (_, root, tree, voc) = gens.last
    gens.init.foreach(g => LayerProbes.deleteTree(g._2))
    val setupS = run.detail("session_start_s")._1 + Stats.median(gens.map(_._1))
    run.metric("setup_s", setupS, "s")
    run.note("setup_s", setupS, "s")
    run.note("corpus_files", tree.files.size, "count")
    run.note("corpus_bytes", tree.files.values.map(_.bytes.length.toLong).sum, "B")
    Setup(root, tree, voc, run.work.resolve("graft"))
  }

  /** A single-query result has min(topK, available) rows, in
    * non-increasing score order.
    */
  def servedOk(rows: Array[Row], available: Long, scoreCol: String): Seq[String] = {
    val want = math.min(TopK.toLong, available)
    val scores = rows.map(r => r.getAs[Number](scoreCol).doubleValue())
    (if (rows.length == want) Nil else Seq(s"got ${rows.length} rows, want $want")) ++
      scores.sliding(2).collect { case Array(a, b) if b > a + 1e-12 => s"scores increase: $a then $b" }.take(3)
  }

  private def scoreColOf(df: DataFrame): String =
    Seq("score", "rrf", "hybrid").find(df.columns.contains).getOrElse(df.columns.last)

  /** One single-query call on an arm, results collected. */
  def serveOne(g: Graft, arm: String, q: String): (Array[Row], String) = {
    val df = arm match {
      case "exact" => g.ragQueryBatch(Seq(q), TopK)
      case "ivf" => g.ragQueryAnn(q, TopK)
      case "graph" => g.ragQueryAnnGraph(q, TopK)
      case "hybrid" => g.ragQueryHybrid(q, TopK)
    }
    (df.collect(), scoreColOf(df))
  }

  private def storeChunks(run: Run, s: Setup, g: Graft): DataFrame =
    IndexStore.load(run.spark, s.store, g.meta).getOrElse(
      throw new IllegalStateException("chunk store unreadable"))

  private def stat(r: Row, c: String): Long = r.getAs[Number](c).longValue()

  /** Checks one reindex's diff counts against the churn that was applied. */
  private def diffOk(stats: Array[Row], added: Int, changed: Int, removed: Int): Seq[String] =
    if (stats.length != 1) Seq(s"reindex returned ${stats.length} stats rows")
    else {
      val r = stats.head
      Seq(("n_added", added), ("n_changed", changed), ("n_removed", removed)).collect {
        case (c, want) if stat(r, c) != want => s"$c=${stat(r, c)}, churn applied $want"
      }
    }

  // ---------------------------------------------------------------- lifecycle

  def lifecycle(run: Run): Unit = {
    val s = setupTree(run)
    var files = s.tree.files
    val texts = files.values.map(_.text).toIndexedSeq
    val qs = Gen.queries(run.seed, texts, 64)
    var qi = 0
    def nextQ(): String = { qi += 1; qs(qi % qs.length) }
    val spark = run.spark
    val t0 = System.nanoTime()
    def threeArms(g: Graft, q: String): Seq[String] =
      Seq("ivf", "graph", "hybrid").flatMap { arm =>
        val (rows, sc) = run.span(s"serve.$arm")(serveOne(g, arm, q))
        servedOk(rows, Long.MaxValue, sc).map(arm + ": " + _)
      }

    // cold: discover + land, build the chunk store, first answers on the
    // three live arms (their stores build on first use)
    var graft: Graft = null
    val ready = run.op("ready") {
      graft = run.span("sources.for_directory")(
        Graft.forDirectory(spark, s.root.toString, s.graftDir.toString))
      val stats = run.span("reindex")(graft.reindexDirectory(s.store).collect())
      if (run.traced) {
        run.span("build.ivf")(graft.ensureChunkAnnIndex())
        run.span("build.graph")(graft.ensureChunkGraphIndex())
        run.span("build.bm25")(graft.ensureChunkLexIndex())
      }
      (stats, threeArms(graft, nextQ()))
    } { case (stats, serveErrs) => diffOk(stats, files.size, 0, 0) ++ serveErrs }
    if (graft == null) return
    ready.foreach { case (_, dt) => run.metric("first_answer_s", dt, "s"); run.note("ready_s", dt, "s") }

    // churn rounds until the budget is spent (at least one)
    val refresh = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cells = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    var round = 0
    var nextIdx = NFiles
    while (round < 1 || ((System.nanoTime() - t0) / 1e9 < run.seconds && round < 30)) {
      round += 1
      val c = Gen.churn(run.seed, round, files, s.vocab, nextIdx)
      nextIdx += c.adds.size
      c.deletes.foreach(p => java.nio.file.Files.delete(s.root.resolve(p)))
      (c.edits ++ c.adds).foreach { case (p, f) => Gen.writeFile(s.root, p, f) }
      files = files -- c.deletes ++ c.edits ++ c.adds
      val g = graft
      val res = run.op("refresh") {
        val stats = run.span("reindex")(g.reindexDirectory(s.store).collect())
        (stats, threeArms(g, nextQ()))
      } { case (stats, serveErrs) =>
        val errs = diffOk(stats, c.adds.size, c.edits.size, c.deletes.size) ++ serveErrs
        // the store answers for the new text and has forgotten deleted files
        val store = storeChunks(run, s, g)
        val edited = c.markers.toSeq
        val top = g.ragQueryBatchOver(store, edited.map(_._2), 1).select("query_id", "doc_id").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val editErrs = edited.zipWithIndex.collect {
          case ((p, _), i) if !top.get(i.toLong).contains(docId(p)) => s"edited $p does not rank first for its new text"
        }
        val gone = store.filter(col("doc_id").isin(c.deletes.map(docId): _*)).count()
        errs ++ editErrs ++ (if (gone == 0) Nil else Seq(s"$gone chunks of deleted files remain"))
      }
      res.foreach { case ((stats, _), dt) =>
        refresh += dt
        val r = stats.head
        cells += Array(stat(r, "ann_cells_rewritten"), stat(r, "ann_graph_cells_rewritten"),
          stat(r, "lex_cells_rewritten"))
      }
    }
    if (refresh.nonEmpty) {
      run.metric("op_p50_ms", Stats.median(refresh.toSeq) * 1000, "ms")
      run.note("refresh_s", Stats.median(refresh.toSeq), "s")
      run.note("refresh_rounds", refresh.length, "count")
    }

    // traced run only: a no-op reindex (nothing changed on disk) — a single
    // one spreads too much across runs to gate on, and plain runs are
    // budgeted for the gated metrics
    if (run.traced)
      run.op("noop_refresh")(run.span("reindex")(graft.reindexDirectory(s.store).collect())) { stats =>
        diffOk(stats, 0, 0, 0)
      }.foreach { case (_, dt) => run.note("noop_refresh_s", dt, "s") }

    val storeBytes = (Seq(s.store, graft.chunkAnnPath, graft.chunkGraphPath, graft.chunkLexPath))
      .map(p => du(java.nio.file.Paths.get(p))).sum
    run.note("index_bytes_ratio", storeBytes.toDouble / run.detail("corpus_bytes")._1, "ratio")

    if (run.traced) {
      run.layer("index_store.bytes_ratio", storeBytes.toDouble / run.detail("corpus_bytes")._1, "ratio")
      if (cells.nonEmpty) Seq("ann.ivf", "ann.graph", "bm25").zipWithIndex.foreach { case (n, i) =>
        run.layer(s"$n.cells_rewritten", Stats.median(cells.map(_(i).toDouble).toSeq), "count")
      }
      serveSettled(run, s, graft, qs)
      LayerProbes.lifecycle(run, s, graft, files, nextIdx)
    }
  }

  /** Traced run only: read-only serving after the loop has settled (the
    * serve memo hits), and recall against the exact scan of the chunk store.
    */
  private def serveSettled(run: Run, s: Setup, g: Graft, qs: Seq[String]): Unit = {
    val t = run.trace.get
    val store = storeChunks(run, s, g)
    val available = store.count()
    val lat = Arms.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val hits = scala.collection.mutable.Map.empty[String, Seq[(String, Array[Row])]]
    for (i <- 0 until 2; arm <- Arms) {
      val q = qs((i * 7 + 3) % qs.length)
      run.op(s"serve.$arm", toggle = true)(serveOne(g, arm, q)) { case (rows, sc) =>
        servedOk(rows, available, sc)
      }.foreach { case ((rows, _), dt) =>
        lat(arm) += dt
        hits(arm) = hits.getOrElse(arm, Nil) :+ (q -> rows)
      }
    }
    Arms.foreach { arm =>
      if (lat(arm).nonEmpty) run.layer(s"ann.$arm.serve_p50_ms", Stats.median(lat(arm).toSeq) * 1000, "ms")
      val spans = t.named(s"serve.$arm").filter(_.parent == -1)
      if (spans.nonEmpty)
        run.layer(s"ann.$arm.jobs_per_serve", Stats.median(spans.map(sp => t.cost(sp).jobs.toDouble)), "count")
    }
    RecallArms.foreach { arm =>
      val rec = hits.getOrElse(arm, Nil).map { case (q, rows) =>
        val want = g.ragQueryOver(store, q, TopK).collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"))).toSet
        val got = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"))).toSet
        got.intersect(want).size.toDouble / math.max(1, want.size)
      }
      if (rec.nonEmpty) run.layer(s"ann.$arm.recall_at_10", rec.sum / rec.size, "ratio")
    }
  }

  /** Bytes of all regular files under `p` (0 when absent). */
  private def du(p: Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val st = java.nio.file.Files.walk(p)
      try st.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally st.close()
    }
}
