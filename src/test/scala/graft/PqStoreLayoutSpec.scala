package graft

import graft.operators.{AnnPq, AnnStore}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The PQ store's one-table layout (layout 2): every stage (pq, opq,
  * ivfpq) keeps its codes as columns of the cid-partitioned vectors table,
  * the ADC scan prunes to the codes, a store in the old two-table layout
  * rebuilds, and a null embedding serves what the three-object stores
  * served.
  */
class PqStoreLayoutSpec extends SparkSpecBase {

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val stages = Seq("pq" -> AnnPq.Pq, "opq" -> AnnPq.Opq, "ivfpq" -> AnnPq.IvfPq)

  private val codeCols = (0 until 8).map(j => s"c$j")

  private def copyCorpus(tag: String): String = {
    val dir = Files.createTempDirectory(s"graft_pqlayout_$tag").toString
    spark.read.parquet(sf + "/embeddings.parquet").write.parquet(dir + "/embeddings.parquet")
    dir
  }

  private def serve(path: String, p: AnnPq.PqParams): DataFrame =
    if (p.k.isDefined) AnnPq.annIvfPqServed(spark, path) else AnnPq.annPqServed(spark, path)

  /** Field names each parquet scan of `path`'s vectors table reads. */
  private def vectorScans(df: DataFrame, path: String): Seq[Seq[String]] =
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(path + "/vectors")) =>
        s.requiredSchema.fieldNames.toSeq
    }

  /** One store per stage over the shared corpus, built on first use. */
  private lazy val stores: Map[String, String] = {
    val root = Files.createTempDirectory("graft_pqlayout_stores").toString
    stages.map { case (name, p) =>
      AnnPq.ensurePqIndex(spark, sf, s"$root/$name", p)
      name -> s"$root/$name"
    }.toMap
  }

  test("each PQ-family store holds one row table and no codes/ directory") {
    for ((name, p) <- stages) {
      val path = stores(name)
      val subdirs = fs.listStatus(new Path(path)).filter(_.isDirectory)
        .map(_.getPath.getName).toSet
      val sidecar = if (p.k.isDefined) "centroids" else if (p.rounds.isDefined) "rotation" else ""
      assert(subdirs == Set("vectors", "books") ++ Set(sidecar).filter(_.nonEmpty),
        s"$name: $subdirs")
      val table = spark.read.parquet(path + "/vectors")
      assert(table.columns.toSeq == Seq("vec_id", "embedding") ++ codeCols :+ "cid",
        s"$name: ${table.columns.toSeq}")
      assert(AnnStore.readManifest(spark, path).get.contains(s""""layout":${AnnPq.Layout}"""))
    }
    // the facade's chunk stores: payload columns and codes share the one table
    val g = new Graft(spark, sf)
    for (kind <- Seq("pq", "opq")) {
      assert(g.ragQueryAnnKindBatch(Seq("hash join build side"), kind).count() > 0, kind)
      val path = g.chunkKindPath(kind)
      assert(!fs.exists(new Path(path + "/codes")), s"chunk $kind: codes/ exists")
      val cols = spark.read.parquet(path + "/vectors").columns.toSeq
      assert(Seq("vec_id", "embedding", "doc_id", "chunk_text").forall(cols.contains) &&
        codeCols.forall(cols.contains), s"chunk $kind: $cols")
    }
  }

  test("the ADC scan reads only vec_id and the code columns; the rerank reads the vectors") {
    for ((name, p) <- stages) {
      val path = stores(name)
      val scans = vectorScans(serve(path, p), path)
      // cid is the partition column — pruned by directory, never read from files
      assert(scans.contains(Seq("vec_id") ++ codeCols), s"$name ADC scan: $scans")
      assert(scans.contains(Seq("vec_id", "embedding")), s"$name rerank scan: $scans")
      assert(scans.forall(s => !(s.contains("embedding") && s.exists(codeCols.contains))),
        s"$name: a scan reads codes and embeddings together: $scans")
    }
  }

  test("a store in the old two-table layout rebuilds on ensure; refresh reports full_params") {
    for ((name, p) <- stages) {
      val dir = copyCorpus(name)
      val path = Files.createTempDirectory(s"graft_pqlayout_old_$name").toString + "/idx"
      // rewrite the store into the old layout: codes in their own table,
      // vectors without code columns, manifest without the layout param
      def stampOldLayout(): Unit = {
        val table = spark.read.parquet(path + "/vectors").localCheckpoint()
        table.select(col("vec_id") +: codeCols.map(col) :+ col("cid"): _*)
          .write.partitionBy("cid").parquet(path + "/codes")
        fs.delete(new Path(path + "/vectors"), true)
        table.select("vec_id", "embedding", "cid").write.partitionBy("cid").parquet(path + "/vectors")
        val m = AnnStore.readManifest(spark, path).get
        AnnStore.writeManifestFile(fs, new Path(path), m.replace(s""","layout":${AnnPq.Layout}""", ""))
      }
      def assertNewLayout(): Unit = {
        assert(AnnStore.readManifest(spark, path).get.contains(s""""layout":${AnnPq.Layout}"""), name)
        assert(!fs.exists(new Path(path + "/codes")), s"$name: codes/ survived the rebuild")
        assert(codeCols.forall(spark.read.parquet(path + "/vectors").columns.contains), name)
        assert(serve(path, p).count() == 50, name)
      }
      AnnPq.ensurePqIndex(spark, dir, path, p)
      stampOldLayout()
      AnnPq.ensurePqIndex(spark, dir, path, p)
      assertNewLayout()

      stampOldLayout()
      val r = AnnPq.refreshPqIndex(spark, dir, path, p).head()
      assert(r.getString(0) == "full_params", s"$name: mode=${r.getString(0)}")
      assertNewLayout()
    }
  }

  test("a corpus with one null embedding serves the three-object stores' rows per stage") {
    val dir = Files.createTempDirectory("graft_pqlayout_null").toString
    spark.read.parquet(sf + "/embeddings.parquet")
      .withColumn("embedding",
        when(col("vec_id") === 123L, lit(null)).otherwise(col("embedding")))
      .write.parquet(dir + "/embeddings.parquet")
    val root = Files.createTempDirectory("graft_pqlayout_nullidx").toString
    def digest(df: DataFrame): String = {
      val s = df.collect().map(_.toSeq.mkString(",")).sorted.mkString("\n")
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    // MD5 of the sorted served rows of AnnPq / AnnOpq / AnnIvfPq before
    // the three objects merged into one store, on this same corpus
    val before = Map(
      "pq" -> "43547e99ef432a14faf992fc592f11f7",
      "opq" -> "98777a6b6c752df7b1159a0cce45fcaa",
      "ivfpq" -> "8ae7b112ff0009b6beea22f20d93f431")
    for ((name, p) <- stages) {
      val path = s"$root/$name"
      AnnPq.ensurePqIndex(spark, dir, path, p)
      val served = serve(path, p)
      assert(served.filter(col("vec_id") === 123L).count() == 0, s"$name served the null row")
      assert(digest(served) == before(name), s"$name: served rows changed")
      if (p.k.isEmpty)
        assert(digest(AnnPq.annPq(spark, dir, p = p)) == before(name),
          s"$name: in-query twin differs from the served store")
    }
  }
}
