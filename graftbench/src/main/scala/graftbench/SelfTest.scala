package graftbench

/** The harness's own tests (no Spark): seeded generators reproduce their
  * output byte for byte and differ across seeds, and the tail-percentile
  * rule picks the right level at small and large sample counts. Run with
  * `python3 graftbench/selftest.py`.
  */
object SelfTest {
  private var failures = 0

  private def check(cond: Boolean, what: String): Unit =
    if (cond) println(s"ok   $what") else { failures += 1; println(s"FAIL $what") }

  private def treeBytes(seed: Long): Seq[(String, Seq[Byte])] = {
    val (t, _) = Gen.tree(seed, 200)
    (t.files ++ t.excluded).toSeq.sortBy(_._1).map { case (p, f) => p -> f.bytes.toSeq }
  }

  private def tableBytes(seed: Long): Seq[Byte] =
    Gen.curateTable(seed, 500).map(d => s"${d.doc_id}\t${d.text}\t${d.lang}\t${d.source}\t${d.n_chars}\n")
      .mkString.getBytes("UTF-8").toSeq

  def main(args: Array[String]): Unit = {
    check(treeBytes(7) == treeBytes(7), "one seed gives a byte-identical tree")
    check(treeBytes(7) != treeBytes(8), "another seed gives another tree")
    val (t, voc) = Gen.tree(7, 200)
    check(t.files.values.count(_.pdf) == 10, "5% of the tree are PDFs")
    check(t.excluded.keys.forall(_.startsWith("node_modules/")), "the excluded subtree is node_modules")
    check(tableBytes(7) == tableBytes(7), "one seed gives a byte-identical table")
    check(tableBytes(7) != tableBytes(8), "another seed gives another table")
    val c1 = Gen.churn(7, 1, t.files, voc, 200)
    val c2 = Gen.churn(7, 1, t.files, voc, 200)
    check(c1 == c2, "churn is seeded")
    check(c1.edits.forall { case (p, f) => f.bytes.length != t.files(p).bytes.length },
      "every edit changes the file's byte size")
    check(c1.edits.values.exists(_.pdf) && c1.adds.values.exists(_.pdf), "churn edits and adds a PDF")
    check(c1.deletes.nonEmpty && c1.deletes.forall(t.files.contains), "churn deletes existing files")
    val texts = t.files.values.map(_.text).toIndexedSeq.sorted
    val qs = Gen.queries(7, texts, 50)
    check(qs == Gen.queries(7, texts, 50), "queries are seeded")
    check(qs.forall(q => texts.exists(_.split("\\s+").mkString(" ").contains(q))),
      "every query is a window of the corpus")

    val seq = (1 to 10000).map(_.toDouble)
    def tailOf(n: Int) = Stats.tail(seq.take(n))
    check(tailOf(5).isEmpty, "n=5: no percentile has 10 samples beyond it")
    check(tailOf(19).isEmpty, "n=19: even the median has only 9 beyond it")
    check(tailOf(20).contains(Stats.Tail(50.0, 10.0, 20)), "n=20: the median, 10 beyond")
    check(tailOf(100).contains(Stats.Tail(90.0, 90.0, 100)), "n=100: p90")
    check(tailOf(1000).contains(Stats.Tail(99.0, 990.0, 1000)), "n=1000: p99")
    check(tailOf(10000).contains(Stats.Tail(99.9, 9990.0, 10000)), "n=10000: p99.9")
    check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of an even count")
    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
