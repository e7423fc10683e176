package graftbench

import graft.Graft
import org.apache.spark.sql.Row

/** `curate`: `buildTrainingSet` with train/val/test splits over a generated
  * documents table. No discovery, embedding or ANN work is on this path.
  */
object CurateWorkload {
  val NBase = 2500
  val Replicas = 4
  val TestPermille = 50
  val ValPermille = 50

  /** Stages whose doc counts can only shrink, in pipeline order. */
  val Funnel: Seq[String] = Seq("raw", "dedup_survivors", "quality_gate", "decontaminated", "mixture_sample")
  val Splits: Seq[String] = Seq("split_train", "split_val", "split_test")

  def ledgerProblems(ledger: Seq[(String, Long)]): Seq[String] = {
    val m = ledger.toMap
    val missing = (Funnel ++ Splits).filterNot(m.contains).map(s => s"ledger lacks stage $s")
    if (missing.nonEmpty) missing
    else {
      val funnel = Funnel.map(m)
      val grows = Funnel.zip(funnel).sliding(2).collect {
        case Seq((a, x), (b, y)) if y > x => s"$b has $y docs, more than $a's $x"
      }.toSeq
      val splitSum = Splits.map(m).sum
      val splitErr = if (splitSum == m("mixture_sample")) Nil
        else Seq(s"splits hold $splitSum docs, mixture_sample ${m("mixture_sample")}")
      // the generated table carries duplicates and benchmark overlap: a
      // gate that removes nothing means the workload lost its point
      val idle = Seq(("raw", "dedup_survivors"), ("quality_gate", "decontaminated")).collect {
        case (a, b) if m(b) >= m(a) => s"$b removed nothing"
      }
      grows ++ splitErr ++ idle
    }
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val sf = r.work.resolve("sf")
    val docsPath = sf.resolve("documents.parquet").toString
    var nDocs = 0
    val gens = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val rows = Gen.curateTable(r.seed, NBase, Replicas)
      nDocs = rows.length
      spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(docsPath)
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = r.detail("session_start_s")._1 + Stats.median(gens)
    r.metric("setup_s", setupS, "s")
    r.note("setup_s", setupS, "s")
    r.note("input_docs", nDocs, "count")

    val g = new Graft(spark, sf.toString)
    val out = r.work.resolve("train").toString
    var first: Option[Seq[(String, Long)]] = None
    def call(): Seq[(String, Long)] =
      g.buildTrainingSet(out, testPermille = TestPermille, valPermille = ValPermille)
        .collect().toSeq.map((row: Row) => (row.getString(0), row.getLong(1)))
    def check(ledger: Seq[(String, Long)]): Seq[String] = {
      val same = first match {
        case Some(f) if f != ledger => Seq("ledger differs from the first call's")
        case _ => first = Some(ledger); Nil
      }
      val final_ = ledger.toMap.getOrElse("mixture_sample", -1L)
      val shards = spark.read.parquet(Splits.map(s => s"$out/shards_${s.stripPrefix("split_")}"): _*).count()
      same ++ ledgerProblems(ledger) ++
        (if (shards == final_) Nil else Seq(s"shards hold $shards docs, final count $final_"))
    }

    // the timed region: the first (cold) call, then repeated calls until the
    // budget is spent — at least one, two in a traced run so the listener
    // overhead has a sample on each side
    val t0 = System.nanoTime()
    r.op("curate_first")(call())(check).foreach { case (_, dt) =>
      r.metric("first_answer_s", dt, "s")
      r.note("first_call_s", dt, "s")
    }
    val calls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val minCalls = if (r.traced) 2 else 1
    var n = 0
    while (n < minCalls || ((System.nanoTime() - t0) / 1e9 < r.seconds && n < 50)) {
      n += 1
      r.op("curate_call", toggle = true)(call())(check).foreach { case (_, dt) => calls += dt }
    }
    if (calls.nonEmpty) {
      val med = Stats.median(calls.toSeq)
      r.metric("op_p50_ms", med * 1000, "ms")
      r.note("curate_call_s", med, "s")
      r.note("curate_docs_per_s", nDocs / med, "1/s")
      r.note("curate_calls", calls.length, "count")
    }
    if (r.traced) {
      first.foreach(_.foreach { case (stage, docs) => r.layer(s"curate.$stage.docs", docs, "count") })
      LayerProbes.curate(r, sf.toString)
    }
  }
}
