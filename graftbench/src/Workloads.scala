package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftShims, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, WordCount}
import graft.plans.TokenCounts
import graft.queries.{Dedup => DedupQ}

/** One workload: the query as a user runs it, the checks of its output,
  * and the traced, layer-by-layer form of one execution. */
trait Workload {
  /** Runs the query once, consuming the result in full; returns the
    * result for [[check]]. */
  def query(spark: SparkSession): AnyRef
  /** Errors found in a result of [[query]]; empty when it is correct. */
  def check(result: AnyRef): Seq[String]
  /** Lines describing the last checked result, for the run's log. */
  def notes: Seq[String] = Nil
  /** One traced execution: per-layer seconds and counts, and errors. */
  def traced(spark: SparkSession, tr: Tracer, ls: ExecListener): (Map[String, Double], Seq[String])
}

object Workload {
  def apply(name: String, dir: File, meta: Map[String, String]): Workload = name match {
    case "wc_zipf" | "wc_longtail" => new WcWorkload(dir, meta)
    case "dedup_planted"           => new DedupWorkload(dir, meta)
  }

  /** Runs `df` to the end without collecting it. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** wc_zipf / wc_longtail: the paper's query, as `WordCountCli` runs it. */
final class WcWorkload(dir: File, meta: Map[String, String]) extends Workload {
  private val path = new File(dir, "input.txt").getPath
  private val tokens = meta("tokens").toLong

  def query(spark: SparkSession): AnyRef =
    WordCount.formatted(WordCount.fromFile(spark, path)).collect()

  private def wordBytes(line: String): Array[Byte] =
    line.substring(0, line.lastIndexOf('=')).getBytes(UTF_8)

  def check(result: AnyRef): Seq[String] = {
    val out = result.asInstanceOf[Array[String]]
    val errs = mutable.ArrayBuffer[String]()
    var sum = 0L
    var prev: Array[Byte] = null
    var i = 0
    val expected = scala.io.Source.fromFile(new File(dir, "expected.txt"), "UTF-8")
    try {
      val exp = expected.getLines()
      while (i < out.length && errs.size < 5) {
        val line = out(i)
        val eq = line.lastIndexOf('=')
        if (eq <= 0) errs += s"line $i is not word=cnt: $line"
        else {
          sum += line.substring(eq + 1).toLong
          val w = wordBytes(line)
          if (prev != null && java.util.Arrays.compareUnsigned(prev, w) >= 0)
            errs += s"line $i is not in strictly ascending byte order: $line"
          prev = w
          if (!exp.hasNext) errs += s"line $i is beyond the expected ${i} lines: $line"
          else {
            val e = exp.next()
            if (e != line) errs += s"line $i is '$line', expected '$e'"
          }
        }
        i += 1
      }
      if (errs.isEmpty && exp.hasNext) errs += s"output ends after ${out.length} lines, before the expected ones"
    } finally expected.close()
    if (errs.isEmpty && sum != tokens) errs += s"sum of counts $sum != tokens written $tokens"
    errs.toSeq
  }

  private def lines(spark: SparkSession): DataFrame =
    spark.read.format("graft.sources.ChunkedTextSource").load(path)

  /** `WordCount.fromFile`'s plan without its final ordering: the
    * merged counts before the one-partition exchange and sort. */
  private def merged(full: DataFrame): DataFrame = {
    val noSort = full.queryExecution.logical match {
      case s: Sort => s.child
      case p       => p
    }
    val noGather = noSort match {
      case r: Repartition if r.numPartitions == 1 => r.child
      case p                                     => p
    }
    GraftShims.ofRows(full.sparkSession, noGather)
  }

  def traced(spark: SparkSession, tr: Tracer, ls: ExecListener): (Map[String, Double], Seq[String]) = {
    tr.query += 1
    ls.mark(spark)
    val (out, queryS) = tr.span("query")(query(spark))
    val exec = ls.read(spark)
    val errs = mutable.ArrayBuffer[String]() ++= check(out)
    val ((scan, partial, merge, sort), _) = tr.span("layers") {
      val scan = tr.span("sources.scan") {
        lines(spark).agg(count(lit(1)), sum(octet_length(col("value")))).head()
      }
      val partial = tr.span("plans.partial") {
        TokenCounts.partialCounts(lines(spark), col("value"))
          .agg(count(lit(1)), sum(col("cnt"))).head()
      }
      val merge = tr.span("operators.merge") {
        merged(WordCount.fromFile(spark, path))
          .agg(count(lit(1)), sum(col("cnt"))).head()
      }
      val sort = tr.span("operators.sort")(Workload.drain(WordCount.fromFile(spark, path)))
      (scan, partial, merge, sort)
    }
    val bytes = meta("bytes").toLong
    if (scan._1.getLong(1) != bytes)
      errs += s"scan read ${scan._1.getLong(1)} bytes, file has $bytes"
    if (partial._1.getLong(1) != tokens)
      errs += s"partial counts sum to ${partial._1.getLong(1)}, tokens written $tokens"
    if (merge._1.getLong(0) != meta("distinct").toLong)
      errs += s"merge has ${merge._1.getLong(0)} words, expected ${meta("distinct")}"
    val partialRows = partial._1.getLong(0).toDouble
    val m = Map(
      "trace.query_s" -> queryS,
      "sources.scan_s" -> scan._2,
      "sources.partitions" -> lines(spark).rdd.getNumPartitions.toDouble,
      "sources.rows" -> scan._1.getLong(0).toDouble,
      "plans.partial_s" -> (partial._2 - scan._2),
      "plans.partial_rows" -> partialRows,
      "plans.partial_rows_per_token" -> partialRows / tokens,
      "operators.merge_s" -> (merge._2 - partial._2),
      "operators.sort_s" -> (sort._2 - merge._2),
      "operators.collect_s" -> (queryS - sort._2)
    ) ++ exec.execCounts ++ exec.planCounts
    (m, errs.toSeq)
  }
}

/** dedup_planted: `Dedup.clustersFrom(docs, ordered = false)`, collected. */
final class DedupWorkload(dir: File, meta: Map[String, String]) extends Workload {
  import DedupWorkload._

  private val docsPath = new File(dir, "docs").getPath
  private val truth: Map[Long, Truth] = {
    val src = scala.io.Source.fromFile(new File(dir, "truth.tsv"), "UTF-8")
    try src.getLines().map { l =>
      val f = l.split('\t')
      f(0).toLong -> Truth(f(1).toInt, f(2), f(3).toLong, f(4).toDouble)
    }.toMap finally src.close()
  }
  private val nears = truth.filter { case (_, t) => t.kind == Dedup.Near }
  /** Recall floor per exact-Jaccard band, derived for this corpus's
    * near-duplicate counts (see [[RecallFloor]]). */
  val floors: Map[Band, Double] = Bands.map { b =>
    b -> RecallFloor.floor(b.lo, nears.count { case (_, t) => b.contains(t.jaccard) })
  }.toMap

  private def docs(spark: SparkSession): DataFrame = spark.read.parquet(docsPath)

  def query(spark: SparkSession): AnyRef =
    DedupQ.clustersFrom(docs(spark), ordered = false).collect()

  /** Recall of near-duplicates per band: share co-clustered with their base. */
  def recall(cluster: Map[Long, Long]): Seq[(Band, Int, Double)] =
    Bands.map { b =>
      val in = nears.filter { case (_, t) => b.contains(t.jaccard) }
      val hit = in.count { case (id, t) => cluster.get(id) == cluster.get(t.base) }
      (b, in.size, if (in.isEmpty) 1.0 else hit.toDouble / in.size)
    }

  def check(result: AnyRef): Seq[String] = {
    val rows = result.asInstanceOf[Array[Row]]
    val errs = mutable.ArrayBuffer[String]()
    val cluster = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (rows.length != truth.size || cluster.size != truth.size)
      errs += s"${rows.length} rows for ${cluster.size} doc ids, corpus has ${truth.size}"
    val families = mutable.HashMap[Long, Int]()
    cluster.foreach { case (id, c) =>
      truth.get(id) match {
        case None => errs += s"unknown doc id $id"
        case Some(t) =>
          if (families.getOrElseUpdate(c, t.family) != t.family)
            errs += s"cluster $c spans families ${families(c)} and ${t.family}"
      }
      if (!cluster.get(c).contains(c)) errs += s"cluster label $c of doc $id is not in its own cluster"
    }
    truth.foreach { case (id, t) =>
      if (t.kind == Dedup.Copy && cluster.get(id) != cluster.get(t.base))
        errs += s"exact copy $id is not clustered with its base ${t.base}"
    }
    lastRecall = recall(cluster)
    lastRecall.foreach { case (b, n, r) =>
      if (r < floors(b)) errs += f"recall ${r}%.4f in $b over $n near-duplicates is below its floor ${floors(b)}%.4f"
    }
    errs.take(5).toSeq
  }

  private def pairs(spark: SparkSession): DataFrame =
    DedupQ.minhashPairsFrom(docs(spark), ordered = false)

  /** a_id < b_id, each pair once, 0.5 <= est_jaccard <= 1, and within one family. */
  def checkPairs(rows: Array[Row]): Seq[String] = {
    val errs = mutable.ArrayBuffer[String]()
    val seen = mutable.HashSet[(Long, Long)]()
    rows.foreach { r =>
      val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      if (a >= b) errs += s"pair ($a, $b) is not ordered a_id < b_id"
      if (!seen.add((a, b))) errs += s"pair ($a, $b) appears twice"
      if (!(j >= 0.5 && j <= 1.0)) errs += s"pair ($a, $b) has est_jaccard $j"
      if (truth.get(a).map(_.family) != truth.get(b).map(_.family))
        errs += s"pair ($a, $b) joins two families"
    }
    errs.take(5).toSeq
  }

  private var lastRecall: Seq[(Band, Int, Double)] = Nil
  override def notes: Seq[String] = lastRecall.map { case (b, n, r) =>
    f"recall $b: $r%.4f over $n near-duplicates, floor ${floors(b)}%.4f"
  }

  def traced(spark: SparkSession, tr: Tracer, ls: ExecListener): (Map[String, Double], Seq[String]) = {
    tr.query += 1
    ls.mark(spark)
    val (out, queryS) = tr.span("query")(query(spark))
    val exec = ls.read(spark)
    val errs = mutable.ArrayBuffer[String]() ++= check(out)
    val (m, _) = tr.span("layers") {
      val (_, scanS) = tr.span("sources.scan") {
        docs(spark).agg(count(lit(1)), sum(octet_length(col("text")))).head()
      }
      ls.mark(spark)
      val (_, sigS) = tr.span("functions.signatures") {
        val sig = DedupOps.minhashSignaturesFlat(docs(spark), "doc_id", col("text"), 3, 16)
        sig.agg(count(lit(1)), max(greatest((0 until 16).map(i => col(s"_m$i")): _*))).head()
      }
      val sigExec = ls.read(spark)
      ls.mark(spark)
      val (pm, pairsS) = tr.span("dedup.pairs")(pairs(spark).localCheckpoint())
      val pairExec = ls.read(spark)
      val pairRows = pm.collect()
      errs ++= checkPairs(pairRows)
      ls.mark(spark)
      val (cc, ccS) = tr.span("cc")(DedupQ.ccFromPairs(docs(spark), pm.select("a_id", "b_id"),
        ordered = false).collect())
      val ccExec = ls.read(spark)
      GraftShims.releaseLocalCheckpoint(pm)
      val candidates = pairExec.sqlMetric(
        n => n.nodeName == "Exchange" && PairKeyExchange.findFirstIn(n.simpleString).isDefined,
        "shuffle records written")
      Map(
        "trace.query_s" -> queryS,
        "sources.scan_s" -> scanS,
        "functions.signatures_s" -> (sigS - scanS),
        "functions.shingles" -> sigExec.sqlMetric(_.nodeName == "Generate", "number of output rows").toDouble,
        "dedup.pairs_s" -> (pairsS - sigS),
        "dedup.pairs" -> pairRows.length.toDouble,
        "dedup.candidates" -> candidates.toDouble,
        "dedup.pairs_per_candidate" -> (if (candidates > 0) pairRows.length.toDouble / candidates else 0.0),
        "cc.s" -> ccS,
        "cc.jobs" -> ccExec.jobs.toDouble,
        "cc.clusters" -> cc.map(_.getLong(1)).distinct.length.toDouble
      )
    }
    (m ++ exec.execCounts ++ exec.planCounts, errs.toSeq)
  }
}

object DedupWorkload {
  final case class Truth(family: Int, kind: String, base: Long, jaccard: Double)

  final case class Band(lo: Double, hi: Double) {
    def contains(j: Double): Boolean = j >= lo && (j < hi || hi >= 1.0 && j <= 1.0)
    override def toString: String = f"[$lo%.1f, $hi%.1f${if (hi >= 1.0) "]" else ")"}"
  }
  val Bands = Seq(Band(0.7, 0.8), Band(0.8, 0.9), Band(0.9, 1.0))

  /** The exchange under `dropDuplicates(a_id, b_id)`: hash-partitioned
    * on exactly the pair key. */
  val PairKeyExchange = """hashpartitioning\(a_id#\d+L?, b_id#\d+L?, \d+\)""".r
}

/** Recall floors derived from the signature the engine documents, not
  * from its output.
  *
  * `graft.queries.Dedup` builds K = 16 MinHash values per document as
  * g_i = h1 + i * h2 over the 48-bit halves (h1, h2) of each shingle's
  * md5, bands them 4 x 4, and emits a pair when some band agrees and at
  * least 8 of 16 values agree (est_jaccard >= 0.5). The g_i are not
  * independent permutations, so the textbook S-curve 1 - (1 - J^4)^4 is
  * not the law; this simulates the same construction with uniform
  * 48-bit (h1, h2) per shingle (md5 as a random function) and a fixed
  * seed. Recall grows with J, so the law at a band's lower edge bounds
  * the band from below; the floor then subtracts 4 standard errors of
  * a binomial share over the band's n near-duplicates and 3 of the
  * simulation. Co-clustering can only add to pair recall, so the floor
  * holds for cluster recall as well.
  */
object RecallFloor {
  val K = 16
  val Bands = 4
  val Rows = 4
  val Trials = 40000
  /** Shingle-set union size simulated; the law barely depends on it
    * for sets of tens to hundreds of shingles. */
  val Union = 100

  private val cache = mutable.HashMap[Double, Double]()

  /** P(pair emitted | Jaccard j), simulated. */
  def emitProb(j: Double): Double = synchronized {
    cache.getOrElseUpdate(j, {
      val rnd = new SplittableRandom(20121001L)
      val shared = math.round(j * Union).toInt
      val mask = (1L << 48) - 1
      var hits = 0
      val sa = new Array[Long](K); val sb = new Array[Long](K)
      var t = 0
      while (t < Trials) {
        java.util.Arrays.fill(sa, Long.MaxValue)
        java.util.Arrays.fill(sb, Long.MaxValue)
        // the union: `shared` elements in both sets, the rest split
        // evenly between the two sides
        var e = 0
        while (e < Union) {
          val h1 = rnd.nextLong() & mask
          val h2 = rnd.nextLong() & mask
          val inA = e < shared || (e - shared) % 2 == 0
          val inB = e < shared || (e - shared) % 2 == 1
          var i = 0
          while (i < K) {
            val g = h1 + i * h2
            if (inA && g < sa(i)) sa(i) = g
            if (inB && g < sb(i)) sb(i) = g
            i += 1
          }
          e += 1
        }
        val eq = (0 until K).map(i => sa(i) == sb(i))
        val band = (0 until Bands).exists(b => (0 until Rows).forall(r => eq(b * Rows + r)))
        if (band && eq.count(identity) >= K / 2) hits += 1
        t += 1
      }
      hits.toDouble / Trials
    })
  }

  def floor(jLow: Double, n: Int): Double = {
    val p = emitProb(jLow)
    val v = p * (1 - p)
    if (n == 0) 0.0 else p - 4 * math.sqrt(v / n) - 3 * math.sqrt(v / Trials)
  }
}
