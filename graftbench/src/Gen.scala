package graftbench

import java.io.{BufferedOutputStream, File, FileOutputStream, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Plain JVM code only — no Spark — so the
  * inputs, and the expected results derived from them, do not depend
  * on the engine under test.
  *
  * Every workload writes one directory:
  *  - `wc_*`:  `input.txt` (the corpus), `expected.txt` (every
  *    `word=cnt` line in bytewise order, counted while writing) and
  *    `meta.properties`;
  *  - `dedup_planted`: `docs/part-*.parquet` (doc_id, text),
  *    `truth.tsv` (doc_id, family, kind, base doc, exact shingle
  *    Jaccard to the base) and `meta.properties`.
  */
object Gen {

  /** Bumped whenever the bytes a seed produces change; part of the
    * cache key, so a stale input is never reused. */
  val Version = 7

  val Workloads = Seq("wc_zipf", "wc_longtail", "dedup_planted")

  /** Workload sizes. The README records why each is the size it is. */
  object Size {
    val ZipfBytes: Long = 256L << 20
    val ZipfVocab = 100000
    val ZipfS = 1.1
    val LongtailBytes: Long = 140L << 20
    val LongtailIds = 2000000
    val DedupDocs = 19000
    val DedupFiles = 8
    val DedupVocab = 50000
  }

  def salt(workload: String): Long = workload match {
    case "wc_zipf"       => 0x5a1f5a1fL
    case "wc_longtail"   => 0x10d67a11L
    case "dedup_planted" => 0x0dedb1a5L
  }

  def generate(workload: String, seed: Long, dir: File): Unit = {
    require(Workloads.contains(workload), s"unknown workload $workload")
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt(workload))
    dir.mkdirs()
    val meta = workload match {
      case "wc_zipf"       => zipf(rnd, dir)
      case "wc_longtail"   => longtail(rnd, dir)
      case "dedup_planted" => Dedup.generate(rnd, dir)
    }
    Meta.write(new File(dir, "meta.properties"),
      meta ++ Map("workload" -> workload, "seed" -> seed.toString,
        "generator" -> Version.toString))
  }

  // ---- word count corpora -------------------------------------------

  private val WordChars =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  /** Separators between tokens: no byte of any is in [A-Za-z0-9]. The
    * multibyte ones (2, 3 and 4 UTF-8 bytes) must never be torn by a
    * split or counted as part of a word. */
  private val Separators: Array[(Array[Byte], Int)] = Array(
    " " -> 600, "  " -> 40, "\t" -> 50, ", " -> 80, ". " -> 60, ";" -> 10,
    ":" -> 10, "!" -> 10, "?" -> 10, "(" -> 10, ") " -> 10, "\"" -> 10,
    "-" -> 20, "'" -> 10, "é" -> 20, " — " -> 20, "中" -> 10,
    "😀" -> 10, "ß " -> 10
  ).map { case (s, w) => (s.getBytes(UTF_8), w) }
  private val SepAlias = new Alias(Separators.map(_._2.toDouble))
  private val Newline = "\n".getBytes(UTF_8)

  /** Line lengths in bytes: mostly short lines, some tens of KiB, and a
    * few multi-MiB lines with no newline at all, so the text source's
    * split realignment and row cutting do real work. */
  private def lineLength(rnd: SplittableRandom): Int = {
    val u = rnd.nextInt(10000)
    if (u < 9500) 1 + rnd.nextInt(160)
    else if (u < 9999) (1 << 10) + rnd.nextInt(63 << 10)
    else (1 << 20) + rnd.nextInt(7 << 20)
  }

  /** Writes tokens drawn by `draw` with separators and line breaks
    * until `targetBytes`, counting each token into `counts`. Returns
    * (tokens written, bytes written). */
  private def writeCorpus(rnd: SplittableRandom, file: File, targetBytes: Long,
      words: Array[Array[Byte]], draw: () => Int, counts: Array[Long]): (Long, Long) = {
    val out = new FileOutputStream(file)
    val buf = new Array[Byte](1 << 20)
    var pos = 0
    def put(b: Array[Byte]): Unit = {
      if (pos + b.length > buf.length) { out.write(buf, 0, pos); pos = 0 }
      System.arraycopy(b, 0, buf, pos, b.length)
      pos += b.length
    }
    var bytes = 0L
    var tokens = 0L
    var lineLeft = lineLength(rnd)
    try {
      while (bytes < targetBytes) {
        val id = draw()
        val w = words(id)
        put(w)
        counts(id) += 1
        tokens += 1
        bytes += w.length
        lineLeft -= w.length
        if (bytes < targetBytes) {
          val sep =
            if (lineLeft <= 0) { lineLeft = lineLength(rnd); Newline }
            else Separators(SepAlias.sample(rnd))._1
          put(sep)
          bytes += sep.length
          lineLeft -= sep.length
        }
      }
      // half the seeds end the file on a token's last byte
      if (rnd.nextBoolean()) { put(Newline); bytes += 1 }
      out.write(buf, 0, pos)
    } finally out.close()
    (tokens, bytes)
  }

  /** Writes `expected.txt`: one `word=cnt` line per word seen, in
    * bytewise order. The words are ASCII, so String order is byte
    * order; each is sorted as `word NUL index`, and NUL sorts below
    * every word byte. Returns the number of distinct words. */
  private def writeExpected(dir: File, words: Array[Array[Byte]],
      counts: Array[Long]): Int = {
    val keyed = counts.indices.filter(counts(_) > 0)
      .map(i => new String(words(i), UTF_8) + "\u0000" + i).toArray
    java.util.Arrays.sort(keyed.asInstanceOf[Array[AnyRef]])
    val out = new BufferedOutputStream(
      new FileOutputStream(new File(dir, "expected.txt")), 1 << 20)
    try keyed.foreach { k =>
      val nul = k.indexOf('\u0000')
      out.write(s"${k.substring(0, nul)}=${counts(k.substring(nul + 1).toInt)}\n".getBytes(UTF_8))
    } finally out.close()
    keyed.length
  }

  private def zipf(rnd: SplittableRandom, dir: File): Map[String, String] = {
    val vocab = distinctWords(rnd, Size.ZipfVocab, 1, 12, WordChars)
    val alias = new Alias(Array.tabulate(vocab.length)(r => math.pow(r + 1.0, -Size.ZipfS)))
    val counts = new Array[Long](vocab.length)
    val (tokens, bytes) = writeCorpus(rnd, new File(dir, "input.txt"),
      Size.ZipfBytes, vocab, () => alias.sample(rnd), counts)
    val distinct = writeExpected(dir, vocab, counts)
    Map("tokens" -> tokens.toString, "bytes" -> bytes.toString,
      "distinct" -> distinct.toString)
  }

  /** Tokens drawn uniformly from `LongtailIds` ids, each printed as a
    * fixed-width 16-character base-62 word (like a hashed key): a seeded
    * bijection of the id in the low digits, so every id is its own word,
    * and seeded filler in the high ones. */
  private def longtail(rnd: SplittableRandom, dir: File): Map[String, String] = {
    val n = Size.LongtailIds
    val mult = rnd.nextLong() | 1L
    val add = rnd.nextLong()
    val words: Int => Array[Byte] = id => {
      var x = (id.toLong * mult + add) & 0xffffffffL
      x ^= x >>> 15
      val w = new Array[Byte](16)
      var i = 15
      while (i >= 10) { w(i) = WordChars((x % 62).toInt).toByte; x /= 62; i -= 1 }
      var y = (id.toLong * 0x9E3779B97F4A7C15L) ^ add
      while (i >= 0) { w(i) = WordChars(((y >>> 1) % 62).toInt).toByte; y *= 0xBF58476D1CE4E5B9L; y ^= y >>> 31; i -= 1 }
      w
    }
    val vocab = Array.tabulate(n)(words)
    val counts = new Array[Long](n)
    val (tokens, bytes) = writeCorpus(rnd, new File(dir, "input.txt"),
      Size.LongtailBytes, vocab, () => rnd.nextInt(n), counts)
    val distinct = writeExpected(dir, vocab, counts)
    Map("tokens" -> tokens.toString, "bytes" -> bytes.toString,
      "distinct" -> distinct.toString)
  }

  /** `n` distinct random words of `minLen..maxLen` characters. */
  def distinctWords(rnd: SplittableRandom, n: Int, minLen: Int, maxLen: Int,
      chars: String): Array[Array[Byte]] = {
    val seen = mutable.HashSet[String]()
    val out = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val len = minLen + rnd.nextInt(maxLen - minLen + 1)
      val w = new String(Array.fill(len)(chars(rnd.nextInt(chars.length))))
      if (seen.add(w.toLowerCase)) { out(i) = w.getBytes(UTF_8); i += 1 }
    }
    out
  }
}

/** Walker/Vose alias table: O(1) draws from a fixed discrete law. */
final class Alias(weights: Array[Double]) {
  private val n = weights.length
  private val prob = new Array[Double](n)
  private val alias = new Array[Int](n)
  locally {
    val total = weights.sum
    val scaled = weights.map(_ * n / total)
    val small = mutable.ArrayStack[Int]()
    val large = mutable.ArrayStack[Int]()
    scaled.indices.foreach(i => if (scaled(i) < 1.0) small.push(i) else large.push(i))
    while (small.nonEmpty && large.nonEmpty) {
      val s = small.pop(); val l = large.pop()
      prob(s) = scaled(s); alias(s) = l
      scaled(l) = scaled(l) + scaled(s) - 1.0
      if (scaled(l) < 1.0) small.push(l) else large.push(l)
    }
    (small ++ large).foreach(i => prob(i) = 1.0)
  }
  def sample(rnd: SplittableRandom): Int = {
    val i = rnd.nextInt(n)
    if (rnd.nextDouble() < prob(i)) i else alias(i)
  }
}

/** The benchmark's own word-3-shingle sets: tokens are maximal ASCII
  * `[A-Za-z0-9]+` runs, lowercased, joined by one space — the shingling
  * `graft.functions.ShingleHashes` documents. */
object Shingles {
  def tokens(text: String): Array[String] =
    text.split("[^A-Za-z0-9]+").filter(_.nonEmpty).map(_.toLowerCase)

  def of(toks: Array[String]): Set[String] =
    if (toks.length < 3) Set.empty
    else (0 to toks.length - 3).iterator
      .map(i => s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}").toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }
}

/** dedup_planted: unrelated base documents, exact copies of some, and
  * near-duplicates of some at word-3-shingle Jaccard 0.7-1.0 to their
  * base. A family is one base doc with its copies and near-duplicates;
  * the generator records each doc's family, so a cluster can be checked
  * for purity without asking the engine. */
object Dedup {
  val Lowercase = "abcdefghijklmnopqrstuvwxyz0123456789"

  /** kind codes in truth.tsv */
  val Base = "base"; val Copy = "copy"; val Near = "near"

  final case class Doc(family: Int, kind: String, base: Int, text: String,
      jaccard: Double)

  private def render(rnd: SplittableRandom, toks: Array[String]): String = {
    val sb = new StringBuilder
    var capital = true
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      sb.append(if (capital) t.capitalize else t)
      capital = false
      if (i + 1 < toks.length) {
        val u = rnd.nextInt(100)
        if (u < 6) { sb.append(". "); capital = true }
        else if (u < 12) sb.append(", ")
        else if (u < 13) sb.append(" — ")
        else sb.append(' ')
      } else sb.append('.')
      i += 1
    }
    sb.toString
  }

  def generate(rnd: SplittableRandom, dir: File): Map[String, String] = {
    // uniform draws: unrelated documents share no shingle, so every
    // cross-family pair the engine emits is its own error
    val vocab = Gen.distinctWords(rnd, Gen.Size.DedupVocab, 2, 10, Lowercase)
      .map(new String(_, UTF_8))
    def word() = vocab(rnd.nextInt(vocab.length))
    val docs = mutable.ArrayBuffer[Doc]()
    var family = 0
    while (docs.size < Gen.Size.DedupDocs) {
      val toks = Array.fill(40 + rnd.nextInt(121))(word())
      val baseIdx = docs.size
      val text = render(rnd, toks)
      docs += Doc(family, Base, baseIdx, text, 1.0)
      val copies = Seq(0, 0, 0, 0, 0, 0, 1, 1, 1, 2, 3)(rnd.nextInt(11))
      (0 until copies).foreach(_ => docs += Doc(family, Copy, baseIdx, text, 1.0))
      val nears = Seq(0, 0, 0, 0, 1, 1, 1, 2, 2, 3)(rnd.nextInt(10))
      val baseSet = Shingles.of(toks)
      (0 until nears).foreach { _ =>
        val target = 0.7 + 0.3 * rnd.nextDouble()
        var j = 0.0
        var near: Array[String] = null
        // substitutions k scattered through S shingles give about
        // (S - 3k) / (S + 3k); overlapping edits only raise it
        val k = math.max(1, math.round(
          baseSet.size * (1 - target) / (3 * (1 + target))).toInt)
        while (j < 0.7 || j >= 1.0) {
          near = toks.clone()
          (0 until k).foreach { _ =>
            val p = rnd.nextInt(near.length)
            var w = word()
            while (w == near(p)) w = word()
            near(p) = w
          }
          j = Shingles.jaccard(baseSet, Shingles.of(near))
        }
        val nearText = render(rnd, near)
        docs += Doc(family, Near, baseIdx, nearText,
          Shingles.jaccard(Shingles.of(Shingles.tokens(text)),
            Shingles.of(Shingles.tokens(nearText))))
      }
      family += 1
    }
    // doc ids are a seeded permutation, so families are scattered
    val ids = (0 until docs.size).toArray
    (ids.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val docDir = new File(dir, "docs")
    docDir.mkdirs()
    // several part files, as a Spark job writes them: one file of one
    // row group would be read by one task
    val rows = docs.indices.sortBy(ids(_)).map(i => (ids(i).toLong, docs(i).text))
    rows.grouped((rows.size + Gen.Size.DedupFiles - 1) / Gen.Size.DedupFiles)
      .zipWithIndex.foreach { case (part, n) =>
        Parquet.writeDocs(new File(docDir, f"part-$n%05d.parquet"), part)
      }
    val truth = new PrintWriter(new File(dir, "truth.tsv"), "UTF-8")
    try docs.indices.foreach { i =>
      val d = docs(i)
      truth.println(s"${ids(i)}\t${d.family}\t${d.kind}\t${ids(d.base)}\t${d.jaccard}")
    } finally truth.close()
    Map("docs" -> docs.size.toString, "families" -> family.toString,
      "copies" -> docs.count(_.kind == Copy).toString,
      "nears" -> docs.count(_.kind == Near).toString,
      "bytes" -> docDir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.length).sum.toString)
  }
}

/** (doc_id, text) rows to one parquet file with parquet-mr's example
  * writer: no Spark involved in writing the input. */
object Parquet {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.Path
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.schema.MessageTypeParser

  def writeDocs(file: File, rows: Seq[(Long, String)]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message docs { required int64 doc_id; required binary text (UTF8); }")
    val conf = new Configuration()
    val writer = ExampleParquetWriter.builder(new Path(file.toURI))
      .withType(schema).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val factory = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, text) =>
      writer.write(factory.newGroup().append("doc_id", id).append("text", text))
    } finally writer.close()
  }
}

object Meta {
  def write(f: File, m: Map[String, String]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try m.toSeq.sorted.foreach { case (k, v) => w.println(s"$k=$v") } finally w.close()
  }
  def read(f: File): Map[String, String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.contains('=')).map { l =>
      val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
    }.toMap finally src.close()
  }
}
