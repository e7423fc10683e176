package graft.operators

import graft.Tables
import graft.plans.VecExprs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) approximate nearest neighbor: ONE store with
  * two optional stages — the composition Jégou et al. 2011 (PQ, IVFADC)
  * and Ge et al. 2013 (OPQ) describe, and FAISS's `OPQ,IVF,PQ` factory
  * strings spell out. PQ is the memory-side ANN story next to C2's LSH and
  * C3's IVF (the "ANN acceleration" the reference defers, reference:
  * README.md:32): a 64-dim float vector (256 B) compresses to m=8 one-byte
  * codes, so a 100 TB corpus's codes fit in a fraction of cluster RAM.
  *
  *   - C5 `pq`: per-subspace k-means codebooks (m × ks codewords,
  *     deterministic init, fixed iterations — only the m·ks·(dim/m)
  *     codebook matrix crosses to the driver). Serve is ADC: a per-query
  *     m×ks table of dot products against the codewords; a vector's
  *     approximate score is the sum of m table lookups by its codes, and
  *     only the small candidate pool is exact-reranked.
  *   - C5o `opq` (`rounds`): a learned ORTHOGONAL rotation applied before
  *     the subspace split ([[trainOpq]]); queries rotate the same way, the
  *     rerank scores in the original space (cosine is rotation-invariant).
  *   - C5c `ivfpq` (`k`): C3's coarse cosine cells; the codebooks encode
  *     RESIDUALS (x − centroid(cell)), which quantize tighter, and serve
  *     scores residual L2 ADC over the nprobe probed cells only.
  *
  * Store layout ([[Layout]] 2): ONE cid-partitioned `vectors/` table holds
  * the raw vector, any payload columns, and the codes `c0..c{m-1}` — the
  * ADC scan reads only `vec_id` and the codes (parquet column pruning),
  * the rerank reads `embedding` for the bounded pool alone. Sidecars:
  * `books/`, plus `rotation/` or `centroids/` when the model has those
  * stages. cid is the coarse cell, or the hash bucket of the flat stages
  * ([[AnnStore.bucketCol]]) — the incremental refresh's rewrite unit.
  *
  * No DuckDB oracle (k-means / SVD); the driver records rows-only and the
  * specs bound recall against the brute-force C1 baseline.
  */
object AnnPq {

  /** Build parameters and stage choice: `rounds` adds the OPQ rotation,
    * `k` the IVFADC coarse cells. The three presets below are the store
    * kinds in use.
    */
  final case class PqParams(m: Int = 8, ks: Int = 16, iters: Int = 3,
                            rounds: Option[Int] = None, k: Option[Int] = None) {
    require(rounds.isEmpty || k.isEmpty, "a rotated IVFADC store is not implemented")
    def kind: String = if (k.isDefined) "ivfpq" else if (rounds.isDefined) "opq" else "pq"
  }
  val Pq: PqParams = PqParams()
  val Opq: PqParams = PqParams(iters = 2, rounds = Some(2))
  val IvfPq: PqParams = PqParams(k = Some(16))

  /** The trained model: m codebooks (books(j) = ks × sub-dim) plus the
    * optional rotation and coarse centroids.
    */
  final case class PqModel(books: Array[Array[Array[Double]]],
                           rotation: Option[Array[Array[Double]]] = None,
                           centroids: Option[Array[Array[Double]]] = None) {
    def m: Int = books.length
    def sd: Int = books.head.head.length
  }

  /** Manifest `layout` param: 2 = codes ride the vectors table. A store in
    * the old two-table layout (no param) mismatches, so the gate rebuilds
    * it and refresh routes to `full_params` instead of appending wide files
    * into a narrow table.
    */
  val Layout = 2

  /** The embeddings tables' vector dimensionality (TESTDATA.md) — recorded
    * in the manifest so a serve against a differently-dimensioned build
    * fails loudly instead of mis-slicing query subvectors.
    */
  private val Dim = 64

  private def codeNames(m: Int): Seq[String] = (0 until m).map(j => s"c$j")

  /** Lloyd's iterations for ALL m subspaces in one pass per iteration: the
    * (vec_id, subspace, subvector) frame is built once and each iteration is
    * a single assign+aggregate job whose per-row CASE dispatches to that
    * subspace's codebook — m× fewer Spark jobs than training subspaces
    * one at a time, which dominates wall-clock for small-dim codebooks.
    * Returns books(j) = ks×(dim/m) codebook of subspace j; only the
    * m·ks·(dim/m) matrix crosses to the driver per iteration.
    */
  def trainAll(e: DataFrame, m: Int, sd: Int, ks: Int,
               iters: Int,
               init: Option[Array[Array[Array[Double]]]] = None): Array[Array[Array[Double]]] = {
    val subs = e.select(col("vec_id"),
        posexplode(array((0 until m).map(j =>
          slice(col("emb"), j * sd + 1, sd)): _*)).as(Seq("j", "s")))
      .cache()
    // deterministic init: subvectors of the first ks vectors — unless the
    // caller WARM-starts (OPQ's alternation: after a rotation update the
    // previous codebooks are still valid points in the rotated space, and
    // a fresh init would forfeit the monotone-objective guarantee)
    var books: Array[Array[Array[Double]]] = init.getOrElse {
      val seed = e.filter(col("vec_id") < ks).orderBy("vec_id").collect()
        .map(_.getSeq[Double](1).toArray)
      (0 until m).map(j => seed.map(v => v.slice(j * sd, j * sd + sd))).toArray
    }
    for (_ <- 0 until iters) {
      val assign = VecExprs.pqAssign(col("s"), col("j"), books)
      // centroid update via the fixed-dim VecMean aggregate (primitive
      // buffer → HashAggregate + codegen) — see AnnIvf.train
      val updated = subs.withColumn("cid", assign)
        .groupBy("j", "cid").agg(graft.plans.VecAgg.vecMeanFixed(col("s"), sd).as("mean"))
        .collect()
      // a null subvector yields a null cid/mean group — never a codeword
      val byCell = updated.filter(r => !r.isNullAt(1) && !r.isNullAt(2))
        .map(r => (r.getAs[Int]("j"), r.getAs[Int]("cid")) -> r.getSeq[Double](2)).toMap
      books = books.indices.map { j =>
        books(j).indices.map { i =>
          byCell.get((j, i)).map(_.toArray).getOrElse(books(j)(i))
        }.toArray
      }.toArray
    }
    subs.unpersist()
    books
  }

  // ------------------------------------------------------------- OPQ stage

  final case class OpqModel(rotation: Array[Array[Double]],
                            books: Array[Array[Array[Double]]],
                            errTrace: Array[Double])

  private def identity(dim: Int): Array[Array[Double]] =
    Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)

  /** Mean quantization error and the Procrustes statistics in ONE pass:
    * per row accumulate `‖y − ŷ‖²` and `A += x·ŷᵀ` — both dim-bounded.
    */
  private def errAndA(rows: DataFrame, books: Array[Array[Array[Double]]],
                      dim: Int, sd: Int): (Double, Array[Array[Double]]) = {
    val m = books.length
    val spark = rows.sparkSession
    val bcBooks = spark.sparkContext.broadcast(books)
    type Acc = (Array[Array[Double]], Double, Long)
    val zero: Acc = (Array.fill(dim)(new Array[Double](dim)), 0.0, 0L)
    def seqOp(acc: Acc, r: org.apache.spark.sql.Row): Acc = {
      val x = r.getSeq[Double](0)
      val y = r.getSeq[Double](1)
      val codes = r.getSeq[Int](2)
      val bk = bcBooks.value
      val yhat = new Array[Double](dim)
      var j = 0
      while (j < m) {
        val w = bk(j)(codes(j))
        var t = 0
        while (t < sd) { yhat(j * sd + t) = w(t); t += 1 }
        j += 1
      }
      var err = 0.0
      var i = 0
      while (i < dim) {
        val d = y(i) - yhat(i)
        err += d * d
        val xi = x(i)
        val row = acc._1(i)
        var k = 0
        while (k < dim) { row(k) += xi * yhat(k); k += 1 }
        i += 1
      }
      (acc._1, acc._2 + err, acc._3 + 1)
    }
    def combOp(a: Acc, b: Acc): Acc = {
      var i = 0
      while (i < dim) {
        var k = 0
        while (k < dim) { a._1(i)(k) += b._1(i)(k); k += 1 }
        i += 1
      }
      (a._1, a._2 + b._2, a._3 + b._3)
    }
    val (a, err, n) = rows.rdd.treeAggregate(zero)(seqOp, combOp)
    bcBooks.destroy()
    (if (n > 0) err / n else 0.0, a)
  }

  /** `R = V·Uᵀ` maximizing `tr(R·A)` — the orthogonal Procrustes solve. */
  private def procrustes(a: Array[Array[Double]]): Array[Array[Double]] = {
    val dim = a.length
    val bm = breeze.linalg.DenseMatrix.tabulate(dim, dim)((i, j) => a(i)(j))
    val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(bm)
    val r = vt.t * u.t
    Array.tabulate(dim, dim)((i, j) => r(i, j))
  }

  /** OPQ's non-parametric alternation (Ge, He, Ke & Sun, CVPR 2013): PQ's
    * error depends on how the dimensions split into subspaces, so learn an
    * orthogonal rotation R that splits better, alternating
    *
    *   (a) one warm-started k-means sweep of the sub-codebooks in the
    *       rotated space ([[trainAll]]'s warm-start seam — a fresh init
    *       would forfeit the guarantee), with
    *   (b) the orthogonal Procrustes update: minimizing `Σ ‖R·x − ŷ‖²`
    *       over orthogonal R is maximizing `tr(R·A)` with `A = Σ x·ŷᵀ`,
    *       solved by `R = V·Uᵀ` from `A = U·S·Vᵀ` (driver-local dim×dim
    *       SVD via breeze).
    *
    * Each step is non-increasing in the one objective, so the error trace
    * is MONOTONE, and round 0 IS plain PQ (R = identity), so the final
    * error never exceeds plain PQ's under the same budget (both
    * spec-receipted). Scale shape: the rotation applies scan-side
    * ([[VecExprs.matVec]], a plan reference object); the Procrustes
    * statistics are ONE `treeAggregate` of dim×dim partials (32 KB of
    * driver state at dim 64). `rounds` × { sweep; measure; rotate }, then
    * one final sweep + measure so the books match the rotation; trace
    * length = rounds + 1, entry 0 is plain PQ.
    */
  def trainOpq(e: DataFrame, dim: Int, m: Int, ks: Int,
               innerIters: Int, rounds: Int): OpqModel = {
    val sd = dim / m
    var r = identity(dim)
    var books: Option[Array[Array[Array[Double]]]] = None
    val trace = scala.collection.mutable.ArrayBuffer.empty[Double]
    def measure(): (Double, Array[Array[Double]]) = {
      val rot = r
      val bk = books.get
      val y = e.select(col("emb").as("x"),
        VecExprs.matVec(col("emb"), rot).as("y"))
      val codeCols = (0 until m).map(j =>
        VecExprs.centroidAssign(slice(col("y"), j * sd + 1, sd), bk(j),
          useCosine = false))
      errAndA(y.select(col("x"), col("y"), array(codeCols: _*).as("codes")),
        bk, dim, sd)
    }
    for (_ <- 0 until rounds) {
      val rot = r
      val y = e.select(col("vec_id"), VecExprs.matVec(col("emb"), rot).as("emb"))
      books = Some(trainAll(y, m, sd, ks, innerIters, init = books))
      val (err, a) = measure()
      trace += err
      r = procrustes(a)
    }
    val rotF = r
    val yF = e.select(col("vec_id"), VecExprs.matVec(col("emb"), rotF).as("emb"))
    books = Some(trainAll(yF, m, sd, ks, innerIters, init = books))
    trace += measure()._1
    OpqModel(r, books.get, trace.toArray)
  }

  // ------------------------------------------------------- model + encode

  private def corpus(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))

  private def centroidFrame(spark: SparkSession,
                            centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
  }

  /** `raw` with its rewrite unit `cid`: the nearest coarse cell (cosine,
    * C3's quantizer) when the model has centroids, else the hash bucket.
    */
  private def withCells(raw: DataFrame, centroids: Option[Array[Array[Double]]],
                        buckets: Int): DataFrame =
    raw.withColumn("cid", centroids.fold(AnnStore.bucketCol(buckets))(c =>
      VecExprs.centroidAssign(col("embedding").cast("array<double>"), c,
        useCosine = true)))

  /** `rows` plus `pq_in`, the vector the codebooks quantize: the embedding,
    * or under a coarse stage its residual from its cell's centroid (a row
    * without a cell drops, as in every coarse-quantized store).
    */
  private def quantizerInput(rows: DataFrame,
                             centroids: Option[Array[Array[Double]]]): DataFrame = {
    val x = col("embedding").cast("array<double>")
    centroids match {
      case None => rows.withColumn("pq_in", x)
      case Some(c) =>
        rows.join(broadcast(centroidFrame(rows.sparkSession, c)), "cid")
          .withColumn("pq_in", zip_with(x, col("centroid"), (a, b) => a - b))
    }
  }

  /** `rows` with the codes `c0..c{m-1}` appended: the quantizer input,
    * rotated when the model has a rotation, each subvector assigned to its
    * nearest codeword (argmin L2). The one encode the builds, the pinned
    * rewrite, refresh and the in-query search share.
    */
  private def encode(rows: DataFrame, model: PqModel): DataFrame = {
    val sd = model.sd
    val y = model.rotation.fold(col("pq_in"))(r => VecExprs.matVec(col("pq_in"), r))
    quantizerInput(rows, model.centroids).withColumn("pq_y", y)
      .select(rows.columns.map(col) ++ model.books.indices.map(j =>
        VecExprs.centroidAssign(slice(col("pq_y"), j * sd + 1, sd), model.books(j),
          useCosine = false).as(s"c$j")): _*)
  }

  /** Train the codebooks (and rotation) over `cells`; `centroids` are the
    * coarse stage, trained first because the cells are assigned under it.
    */
  private def train(cells: DataFrame, p: PqParams,
                    centroids: Option[Array[Array[Double]]]): PqModel = {
    val in = quantizerInput(cells, centroids).select(col("vec_id"), col("pq_in").as("emb"))
    p.rounds match {
      case Some(rounds) =>
        val o = trainOpq(in.filter(col("emb").isNotNull), Dim, p.m, p.ks, p.iters, rounds)
        PqModel(o.books, Some(o.rotation))
      case None => PqModel(trainAll(in, p.m, Dim / p.m, p.ks, p.iters), None, centroids)
    }
  }

  // ----------------------------------------------------------------- store

  /** The staged store contents given a model — shared by the trained
    * builds and [[writePqIndexWithModel]], so the refresh-equivalence
    * property can never break on one copy drifting. The raw frame rides
    * whole, so payload columns (a derived chunk index's metadata) serve
    * from the pruned cell read. The independent table writes overlap.
    */
  private def writeContents(spark: SparkSession, dir: String, cells: DataFrame,
                            model: PqModel): Unit = {
    import spark.implicits._
    AnnStore.inParallel(Seq[() => Unit](
      () => encode(cells, model).write.partitionBy("cid").parquet(dir + "/vectors"),
      () => model.books.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
      }.toSeq.toDF("j", "cid", "centroid").coalesce(1)
        .write.parquet(dir + "/books")) ++
      model.rotation.map(r => () => r.zipWithIndex.map { case (row, i) => (i, row.toSeq) }
        .toSeq.toDF("i", "r").coalesce(1).write.parquet(dir + "/rotation")) ++
      model.centroids.map(c => () => AnnStore.writeCentroids(spark, dir, c)))
  }

  /** Train and write a store over `raw` = (vec_id, embedding, payload...)
    * under `manifest`, which records the flat stages' bucket count.
    */
  private def build(spark: SparkSession, raw: DataFrame, path: String,
                    p: PqParams, manifest: String): Unit = AnnStore.releasingPinned(spark) {
    VecExprs.register(spark)
    // the manifest's dim claim must describe the DATA — otherwise the
    // serving-side m*sd==dim check can never catch a different corpus
    val dimRow = raw.filter(col("embedding").isNotNull)
      .select(size(col("embedding"))).limit(1).collect()
    require(dimRow.nonEmpty, s"PQ build for $path: corpus is empty — nothing to index")
    val dim = dimRow.head.getInt(0)
    require(dim == Dim && dim % p.m == 0,
      s"PQ build for $path: corpus dim $dim must equal manifest dim $Dim and divide by m=${p.m}")
    val centroids = p.k.map(k => AnnIvf.trainOver(
      raw.select(col("vec_id"), col("embedding").cast("array<double>").as("emb")), k))
    val cells0 = withCells(raw, centroids, AnnStore.manifestBuckets(manifest))
    // a coarse assignment feeds training AND the write — evaluate it once
    val cells = if (centroids.isDefined) AnnStore.trackedCheckpoint(cells0) else cells0
    val model = train(cells, p, centroids)
    AnnStore.writeStaged(spark, path, manifest)(writeContents(spark, _, cells, model))
  }

  /** Build over an arbitrary `(vec_id, embedding, payload...)` frame — the
    * derived-index path ([[AnnIvf.writeIndexOver]]'s twin).
    */
  private[graft] def writePqIndexOver(spark: SparkSession, e0: DataFrame, path: String,
                                      p: PqParams, manifest: String): Unit =
    AnnStore.releasingPinned(spark) {
      build(spark, AnnStore.trackedCheckpoint(e0), path, p, manifest)
    }

  /** Pinned-model full rewrite (stored model, no training) — the primitive
    * the refresh-equivalence property is stated against.
    */
  private[graft] def writePqIndexWithModel(spark: SparkSession, sfDir: String, path: String,
                                           model: PqModel, manifest: String): Unit =
    AnnStore.releasingPinned(spark) {
      VecExprs.register(spark)
      val cells = withCells(corpus(spark, sfDir), model.centroids,
        AnnStore.manifestBuckets(manifest))
      AnnStore.writeStaged(spark, path, manifest)(writeContents(spark, _, cells, model))
    }

  /** Build params, dim, layout and — for the flat stages — the
    * corpus-derived bucket count ([[AnnStore.bucketCountFor]]; the count()
    * is a parquet footer read). A corpus growing past the next power-of-two
    * threshold changes it, so refresh routes to `full_params` exactly when
    * pmod would re-shard every row.
    */
  private def manifestFor(spark: SparkSession, sfDir: String, p: PqParams): String = {
    val buckets = if (p.k.isDefined) Nil
      else Seq("buckets" -> AnnStore.bucketCountFor(Tables.embeddings(spark, sfDir).count()))
    AnnStore.manifest(p.kind,
      Seq[(String, Any)]("m" -> p.m, "ks" -> p.ks, "iters" -> p.iters) ++
        p.rounds.map("rounds" -> _) ++ p.k.map("k" -> _) ++ Seq("dim" -> Dim) ++
        buckets :+ ("layout" -> Layout),
      AnnStore.corpusFingerprint(spark, sfDir))
  }

  /** Freshness-gated build-once; the fingerprint is computed once and
    * reused for the stamp.
    */
  def ensurePqIndex(spark: SparkSession, sfDir: String, path: String,
                    p: PqParams = Pq): Unit = {
    val manifest = manifestFor(spark, sfDir, p)
    AnnStore.ensureIndex(spark, path, manifest) {
      build(spark, corpus(spark, sfDir), path, p, manifest)
    }
  }

  /** Incremental maintenance on the shared [[AnnStore.refreshIndex]]
    * dispatch (reference: src/indexer.ts:413-511 — keep the index live):
    * the stored model stays pinned, the diff runs against the vectors
    * table (the codes are its derived columns), and only the affected
    * cells are deleted and re-appended with codes from the pinned model.
    * A hash bucket is a pure function of vec_id, so a flat-store row never
    * migrates. Full retrain on missing store / param change / drift past
    * the bound — stale codebooks, rotation or centroids degrade the codes.
    */
  def refreshPqIndex(spark: SparkSession, sfDir: String, path: String,
                     p: PqParams = Pq, driftBound: Double = 0.3): DataFrame = {
    VecExprs.register(spark)
    val manifest = manifestFor(spark, sfDir, p)
    AnnStore.refreshIndex(spark, path, manifest,
      assignNew = () => withCells(corpus(spark, sfDir),
        p.k.map(_ => AnnStore.readCentroids(spark, path)), AnnStore.manifestBuckets(manifest)),
      rewrite = (affected, rows) => {
        val model = readModel(spark, path)
        // rows arrive materialized (dispatch localCheckpoint) — safe to
        // delete the very partitions they were diffed from
        val fs = AnnStore.fileSystem(spark, path)
        affected.foreach(c => fs.delete(new Path(s"$path/vectors/cid=$c"), true))
        encode(rows, model).write.mode("append").partitionBy("cid").parquet(path + "/vectors")
      },
      fullBuild = () => build(spark, corpus(spark, sfDir), path, p, manifest),
      driftBound = driftBound, derivedCols = codeNames(p.m))
  }

  /** Compact the store's cid-partitioned table ([[AnnStore.compactIndex]])
    * after incremental refreshes.
    */
  def compactPqIndex(spark: SparkSession, path: String,
                     targetBytes: Long = 128L << 20): DataFrame =
    AnnStore.compactIndex(spark, path, Seq("vectors"), targetBytes)

  def defaultIndexPath(sfDir: String, p: PqParams = Pq): String =
    AnnStore.defaultPath(p.kind, sfDir)

  private[graft] def readBooks(spark: SparkSession, path: String): Array[Array[Array[Double]]] =
    spark.read.parquet(path + "/books").orderBy("j", "cid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toArray).toArray

  private[graft] def readModel(spark: SparkSession, path: String): PqModel = {
    val fs = AnnStore.fileSystem(spark, path)
    def sidecar[T](sub: String)(read: => T): Option[T] =
      if (fs.exists(new Path(path, sub))) Some(read) else None
    PqModel(readBooks(spark, path),
      sidecar("rotation")(spark.read.parquet(path + "/rotation").orderBy("i").collect()
        .map(_.getSeq[Double](1).toArray)),
      sidecar("centroids")(AnnStore.readCentroids(spark, path)))
  }

  /** [[readModel]] through the serve memo, validated against the stored
    * manifest's `dim` so a serve against a differently-dimensioned build
    * fails loudly instead of mis-slicing.
    */
  private def servedModel(spark: SparkSession, path: String): PqModel =
    AnnStore.memoizedRead(spark, path, "pq_model") {
      val model = readModel(spark, path)
      val d = model.m * model.sd
      for (manifest <- AnnStore.readManifest(spark, path);
           dim <- AnnStore.manifestInt(manifest, "dim"))
        require(d == dim,
          s"PQ index at $path: books are ${model.m} x sub-dim ${model.sd} but manifest dim=$dim")
      model.rotation.foreach(r => require(r.length == d,
        s"PQ index at $path: books are ${model.m} x ${model.sd} but rotation dim ${r.length}"))
      model
    }

  // ----------------------------------------------------------------- serve

  /** Flat ADC + exact rerank, shared by the pq/opq serves and their
    * in-query twins: per-query m×ks dot-product tables (over the rotated
    * query when the model has a rotation), approximate score = Σ_j t_j[c_j]
    * over `codes` = (vec_id, c0..), then each query's top `rerank` reranked
    * by exact cosine against `vectors` = (vec_id, emb) with the pool side
    * broadcast. The rotation is orthogonal, so rerank scores compare 1:1
    * with every other ANN arm.
    */
  private def adcRerank(codes: DataFrame, vectors: DataFrame, model: PqModel,
                        queries: DataFrame, topK: Int, rerank: Int,
                        excludeSelf: Boolean): DataFrame = {
    val sd = model.sd
    val tableCols = model.books.indices.map { j =>
      array(model.books(j).map(c =>
        VecExprs.dotProd(slice(col("qy"), j * sd + 1, sd), array(c.map(lit): _*))): _*)
        .as(s"t$j")
    }
    // checkpointed: bounded (nQueries rows) and used twice (ADC broadcast +
    // rerank join) with the m×ks table expressions in its lineage. TRACKED
    // so a releasingPinned caller (the facade's kind knob, which consumes
    // before its scope closes) releases it
    val q = AnnStore.trackedCheckpoint(queries.select(col("query_id"), col("qv"))
      .withColumn("qy", model.rotation.fold(col("qv"))(r => VecExprs.matVec(col("qv"), r)))
      .select(col("query_id") +: col("qv") +: tableCols: _*))
    val pqScore = model.books.indices.map(j =>
      element_at(col(s"t$j"), col(s"c$j").cast("int") + 1)).reduce(_ + _)
    val joined = codes.crossJoin(broadcast(q))
    val approx = (if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id")) else joined)
      .withColumn("pq_score", pqScore)
    val wA = Window.partitionBy(col("query_id")).orderBy(col("pq_score").desc, col("vec_id").asc)
    val cands = approx.withColumn("arank", row_number().over(wA)).filter(col("arank") <= rerank)
    val wE = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    vectors.join(broadcast(cands.drop("qv")), "vec_id")
      .join(broadcast(q.select(col("query_id"), col("qv"))), "query_id")
      .withColumn("score", round(VecExprs.cosineSim(col("emb"), col("qv")), 4))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"),
        round(col("pq_score"), 4).as("pq_score"))
      .orderBy("query_id", "rank")
  }

  /** Serving-path C5/C5o: ADC over the persisted codes for the first
    * `nQueries` corpus vectors, row-identical to the in-query [[annPq]]
    * under the same params (spec-asserted) with training amortized into
    * the gated build.
    */
  def annPqServed(spark: SparkSession, indexPath: String, nQueries: Int = 10,
                  topK: Int = 5, rerank: Int = 50): DataFrame =
    annPqServedOver(spark, indexPath,
      spark.read.parquet(indexPath + "/vectors").filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv")),
      topK, rerank, excludeSelf = true)

  /** The production serving shape of a flat (pq/opq) store for an arbitrary
    * bounded query frame `queries` = (query_id: long, qv: array&lt;double&gt;).
    * `excludeSelf` is only for corpus-vector queries (the driver-entry
    * contract); external callers leave it false. The ADC scan reads only
    * `vec_id` and the code columns.
    */
  def annPqServedOver(spark: SparkSession, indexPath: String, queries: DataFrame,
                      topK: Int = 5, rerank: Int = 50,
                      excludeSelf: Boolean = false): DataFrame = {
    AnnStore.healCompacted(spark, indexPath, Seq("vectors"))
    VecExprs.register(spark)
    val model = servedModel(spark, indexPath)
    require(model.centroids.isEmpty,
      s"PQ index at $indexPath has coarse cells — serve it with annIvfPqServedOver")
    val table = spark.read.parquet(indexPath + "/vectors")
    adcRerank(table.select(col("vec_id") +: codeNames(model.m).map(col): _*),
      table.select(col("vec_id"), col("embedding").cast("array<double>").as("emb")),
      model, queries, topK, rerank, excludeSelf)
  }

  /** C5 / C5o in-query: train (pq, or opq when `p.rounds` is set), encode
    * every vector, ADC-search the first `nQueries` vectors and exact-rerank
    * the top `rerank` candidates.
    */
  def annPq(spark: SparkSession, sfDir: String, nQueries: Int = 10, topK: Int = 5,
            p: PqParams = Pq, rerank: Int = 50): DataFrame = {
    require(p.k.isEmpty, "annPq is the flat search — IVFADC serves from its store")
    VecExprs.register(spark)
    val raw = corpus(spark, sfDir)
    val model = train(raw, p, None)
    val vectors = raw.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    adcRerank(encode(raw, model).select(col("vec_id") +: codeNames(p.m).map(col): _*),
      vectors, model,
      vectors.filter(col("vec_id") < nQueries).select(col("vec_id").as("query_id"), col("emb").as("qv")),
      topK, rerank, excludeSelf = true)
  }

  /** Serving-path C5c (IVFADC): probe → per-(query, cell) residual ADC
    * tables → pruned code scan → exact cosine rerank of the bounded pool,
    * also from the pruned cells.
    */
  def annIvfPqServed(spark: SparkSession, indexPath: String, nQueries: Int = 10,
                     topK: Int = 5, nprobe: Int = 2, rerank: Int = 50): DataFrame =
    annIvfPqServedOver(spark, indexPath,
      spark.read.parquet(indexPath + "/vectors").filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      topK, nprobe, rerank, excludeSelf = true)

  /** External-query IVFADC serve: `queries` = (query_id: long, qv: numeric
    * array); `excludeSelf` only for corpus-vector queries.
    */
  def annIvfPqServedOver(spark: SparkSession, indexPath: String, queries: DataFrame,
                         topK: Int = 5, nprobe: Int = 2, rerank: Int = 50,
                         excludeSelf: Boolean = false): DataFrame = {
    AnnStore.healCompacted(spark, indexPath, Seq("vectors"))
    VecExprs.register(spark)
    val model = servedModel(spark, indexPath)
    val centroids = model.centroids.getOrElse(throw new IllegalArgumentException(
      s"PQ index at $indexPath has no coarse cells — serve it with annPqServedOver"))
    val (m, sd) = (model.m, model.sd)
    // probe rule shared with C3/C6 — per (query, probed cell) rows.
    // Checkpointed: the frame is bounded (nQueries × nprobe) and is executed
    // twice (cid collect + broadcast build), and its lineage carries the
    // k-literal probe-scoring expressions — one evaluation, not two.
    val q = AnnIvf.probeListOver(queries.select(col("query_id"), col("qv")),
      centroids, nprobe).localCheckpoint()
    val qr = q.join(broadcast(centroidFrame(spark, centroids)),
        col("probe_cid") === col("cid"))
      .withColumn("qres",
        zip_with(col("qv").cast("array<double>"), col("centroid"), (a, b) => a - b))
    // ADC tables per probed cell: ‖b‖² − 2⟨qres_j, b⟩, plus the per-(query,
    // cell) residual norm ‖qres‖² carried as its own column — it is NOT a
    // query constant (qres differs per probed cell; it equals the coarse
    // distance ‖q−c‖²), and dropping it would bias the pool ranking across
    // cells whenever nprobe > 1: a far cell's candidates would all score an
    // artificially low pq_dist. With it, pq_dist ≈ ‖q − (c + r̂)‖², the full
    // IVFADC estimate, comparable across cells.
    val tableCols = (0 until m).map { j =>
      array(model.books(j).map { c =>
        lit(c.map(x => x * x).sum) -
          lit(2.0) * VecExprs.dotProd(slice(col("qres"), j * sd + 1, sd),
            array(c.map(lit): _*))
      }: _*).as(s"t$j")
    }
    val qnorm = aggregate(col("qres"), lit(0.0), (acc, x) => acc + x * x).as("qn")
    val qt = qr.select(col("query_id") +: col("probe_cid") +: qnorm +: tableCols: _*)
    // bounded collect: probed cell ids only → both reads are partition-pruned
    val cids = q.select("probe_cid").distinct().collect().map(_.getInt(0)).toSeq
    val cells = spark.read.parquet(indexPath + "/vectors").filter(col("cid").isin(cids: _*))
    val dist = col("qn") + (0 until m).map(j =>
      element_at(col(s"t$j"), col(s"c$j").cast("int") + 1)).reduce(_ + _)
    val joined = cells.select(col("vec_id") +: codeNames(m).map(col) :+ col("cid"): _*)
      .join(broadcast(qt), col("cid") === col("probe_cid"))
    val approx = (if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id")) else joined)
      .withColumn("pq_dist", dist)
    val wA = Window.partitionBy(col("query_id")).orderBy(col("pq_dist").asc, col("vec_id").asc)
    val cands = approx.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= rerank)
      .select(col("query_id"), col("vec_id"), col("pq_dist"))
    val wE = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    cells.select(col("vec_id"), col("embedding"))
      .join(broadcast(cands), "vec_id")
      // qv pairs reused from the CHECKPOINTED probe frame — the caller's
      // queries lineage is never executed a second time
      .join(broadcast(q.select(col("query_id"), col("qv")).distinct()), "query_id")
      .withColumn("score", round(VecExprs.cosineSim(col("embedding"), col("qv")), 4))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"),
        round(col("pq_dist"), 4).as("pq_dist"))
      .orderBy("query_id", "rank")
  }
}
