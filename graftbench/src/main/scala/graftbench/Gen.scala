package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generators. Everything the program under test receives
  * comes from here: a directory tree for the RAG workloads, its churn, the
  * query texts, and the documents table for the curation workload. The
  * same seed yields byte-identical output (SelfTest pins this).
  */
object Gen {

  /** One file of the generated tree: its text and whether it is stored as
    * a PDF (text leg vs extractor leg of discovery).
    */
  final case class FileSpec(text: String, pdf: Boolean) {
    def bytes: Array[Byte] =
      if (pdf) graft.functions.PdfText.buildPdf(
        Seq(graft.functions.PdfText.textPage(text)), flate = true)
      else text.getBytes(UTF_8)
  }

  /** The generated tree: relative path → file, plus files under an excluded
    * `node_modules` subtree that discovery must never index.
    */
  final case class Tree(files: Map[String, FileSpec], excluded: Map[String, FileSpec])

  val TextExts: Seq[String] = Seq("md", "txt", "py", "scala", "ts", "java", "go", "json")

  /** Pseudo-words from syllables, so every seed has its own vocabulary and
    * a query window is specific to the text it came from.
    */
  def vocab(rng: SplittableRandom, n: Int = 2000): Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "da",
      "zu", "fe", "gi", "ho", "ja", "ku", "ly", "mo", "nu", "pe", "qa", "ro",
      "si", "tu", "va", "wo", "xe", "yo", "ze", "bi")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val k = 2 + rng.nextInt(3)
      seen += (0 until k).map(_ => syl(rng.nextInt(syl.length))).mkString
    }
    seen.toArray
  }

  /** Skewed word draw (frequent head, long tail) — the shape real text has. */
  def words(rng: SplittableRandom, vocab: Array[String], n: Int): String = {
    val b = new StringBuilder
    var i = 0
    while (i < n) {
      val u = rng.nextDouble()
      if (i > 0) b += (if (i % 13 == 12) '\n' else ' ')
      b ++= vocab((u * u * vocab.length).toInt)
      i += 1
    }
    b.toString
  }

  // PDF page text stays on one line: the page builder emits one show-string
  private def fileText(rng: SplittableRandom, vocab: Array[String], pdf: Boolean): String = {
    val t = words(rng, vocab, 120 + rng.nextInt(360))
    if (pdf) t.replace('\n', ' ') else t
  }

  private def newPath(rng: SplittableRandom, idx: Int, pdf: Boolean): String = {
    val dir = Seq.fill(1 + rng.nextInt(3))(s"d${rng.nextInt(6)}").mkString("/")
    val ext = if (pdf) "pdf" else TextExts(rng.nextInt(TextExts.length))
    s"$dir/f$idx.$ext"
  }

  /** `nFiles` indexed files (about 5% PDFs) plus an excluded subtree. */
  def tree(seed: Long, nFiles: Int): (Tree, Array[String]) = {
    val rng = new SplittableRandom(seed)
    val voc = vocab(rng)
    val files = (0 until nFiles).map { i =>
      val pdf = i % 20 == 7
      newPath(rng, i, pdf) -> FileSpec(fileText(rng, voc, pdf), pdf)
    }.toMap
    val excluded = (0 until math.max(3, nFiles / 25)).map { i =>
      s"node_modules/pkg${i % 4}/lib/m$i.js" -> FileSpec(fileText(rng, voc, pdf = false), pdf = false)
    }.toMap
    (Tree(files, excluded), voc)
  }

  def write(root: Path, files: Map[String, FileSpec]): Unit =
    files.foreach { case (rel, f) => writeFile(root, rel, f) }

  def writeFile(root: Path, rel: String, f: FileSpec): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, f.bytes)
  }

  /** One churn round: which files are edited (new text), deleted and added.
    * `marker` is the text each edit inserts — the check queries it and
    * expects the edited file to rank first.
    */
  final case class Churn(edits: Map[String, FileSpec], deletes: Seq[String],
                         adds: Map[String, FileSpec], markers: Map[String, String])

  /** About 1% of the tree per round, at least one edit, delete and add, and
    * a PDF among both the edits and the adds. Edits always change the byte
    * size: the program's change detection is the reference's size heuristic.
    */
  def churn(seed: Long, round: Int, current: Map[String, FileSpec],
            vocab: Array[String], nextIdx: Int): Churn = {
    val rng = new SplittableRandom(seed * 1000003L + round)
    val paths = current.keys.toVector.sorted
    val n = math.max(3, current.size / 100)
    val shuffled = shuffle(rng, paths)
    val pdfs = shuffled.filter(current(_).pdf)
    val texts = shuffled.filterNot(current(_).pdf)
    val editPaths = (pdfs.take(1) ++ texts.take(math.max(1, n / 3))).distinct
    val rest = texts.filterNot(editPaths.contains)
    val deletes = rest.take(math.max(1, n / 3))
    val markers = editPaths.map(p => p -> words(rng, vocab.takeRight(vocab.length / 2), 24)).toMap
    val edits = editPaths.map { p =>
      val old = current(p)
      val ws = old.text.split(' ')
      val cut = rng.nextInt(math.max(1, ws.length / 2))
      var t = (ws.take(cut) ++ Seq(markers(p)) ++ ws.drop(cut + 8)).mkString(" ")
      while (FileSpec(t, old.pdf).bytes.length == old.bytes.length) t = t + " " + vocab(0)
      p -> FileSpec(t, old.pdf)
    }.toMap
    val nAdds = math.max(2, n / 3)
    val adds = (0 until nAdds).map { i =>
      val pdf = i == 0
      newPath(rng, nextIdx + i, pdf) -> FileSpec(fileText(rng, vocab, pdf), pdf)
    }.toMap
    Churn(edits, deletes, adds, markers)
  }

  /** Query texts: windows of consecutive words drawn from the corpus, so
    * every query has true matches.
    */
  def queries(seed: Long, texts: IndexedSeq[String], n: Int, window: Int = 12): Seq[String] = {
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    (0 until n).map { _ =>
      val ws = texts(rng.nextInt(texts.length)).split("\\s+")
      val at = rng.nextInt(math.max(1, ws.length - window))
      ws.slice(at, at + window).mkString(" ")
    }
  }

  /** A documents table row, in the program's `documents` schema. */
  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** `nBase` docs, each emitted as `replicas` copies with per-replica
    * perturbation — an exact copy, a near copy (a few words swapped), a
    * copy that quotes a held-out (benchmark) doc, and an unrelated rewrite
    * — so dedup and decontamination have real work to do.
    */
  def curateTable(seed: Long, nBase: Int = 5000, replicas: Int = 4): IndexedSeq[Doc] = {
    val rng = new SplittableRandom(seed)
    val voc = vocab(rng, 400)
    val langs = Array("en", "en", "en", "zh", "es", "fr", "de")
    val base = (0 until nBase).map(_ => words(rng, voc, 8 + rng.nextInt(90)).replace('\n', ' '))
    for {
      r <- 0 until replicas
      i <- 0 until nBase
    } yield {
      val id = r.toLong * nBase + i
      val t0 = base(i)
      val text = r match {
        case 0 | 1 => t0
        case 2 =>
          val ws = t0.split(' ')
          ws.indices.map(j => if (rng.nextInt(10) == 0) voc(rng.nextInt(voc.length)) else ws(j))
            .mkString(" ")
        case _ =>
          if (rng.nextInt(4) == 0) t0 + " " + base((i * 7 + 3) % nBase)
          else words(rng, voc, 8 + rng.nextInt(90)).replace('\n', ' ')
      }
      Doc(id, text, langs(rng.nextInt(langs.length)), s"src${rng.nextInt(20)}", text.length.toLong)
    }
  }

  private def shuffle[A](rng: SplittableRandom, xs: Vector[A]): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[A]]
  }
}
