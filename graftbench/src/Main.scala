package graftbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM. `run.py` starts it in one of three modes:
  *
  *  - `gen <workload> <seed> <dir>`: writes the seeded input into `dir`;
  *  - `setup <workload> <dir>`: starts the session, locates the input,
  *    prints `READY <epoch s>` and exits (a set-up time sample);
  *  - `run <workload> <dir> <seconds> <trace 0|1> <trace file>`: the
  *    same set-up, then an untimed cold execution and warm-up, then
  *    whole executions until `seconds` have passed. Prints `RESULT` and
  *    a JSON object as its last line.
  */
object Main {

  /** Untimed warm executions after the cold one, per workload; chosen
    * from the drift measured per repetition (see README). */
  val WarmUp = Map("wc_zipf" -> 2, "wc_longtail" -> 1, "dedup_planted" -> 1)

  def main(args: Array[String]): Unit = {
    val code = try args(0) match {
      case "gen" =>
        val t0 = System.nanoTime()
        Gen.generate(args(1), args(2).toLong, new File(args(3)))
        System.err.println(f"generated ${args(1)} seed ${args(2)} in ${(System.nanoTime() - t0) / 1e9}%.2f s")
        0
      case "setup" =>
        setUp(args(1), new File(args(2))); 0
      case "run" =>
        run(args(1), new File(args(2)), args(3).toDouble, args(4) == "1", new File(args(5)))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    // no SparkSession.stop(): it took ~26 s after a wc run, longer than
    // the run, and the process is ending anyway; run.py clears the
    // local directories the session leaves behind
    Runtime.getRuntime.halt(code)
  }

  /** Session up and inputs located: the end of set-up. */
  private def setUp(workload: String, dir: File): (SparkSession, Map[String, String], Double) = {
    val t0 = System.nanoTime()
    val spark = graft.Engine.session()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val meta = Meta.read(new File(dir, "meta.properties"))
    require(meta.get("workload").contains(workload) &&
      meta.get("generator").contains(Gen.Version.toString), s"stale input in $dir")
    val now = java.time.Instant.now()
    println(f"READY ${now.getEpochSecond}.${now.getNano / 1000}%06d")
    System.out.flush()
    (spark, meta, sessionS)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def run(workload: String, dir: File, seconds: Double, trace: Boolean,
      traceFile: File): Int = {
    val (spark, meta, sessionS) = setUp(workload, dir)
    val wl = Workload(workload, dir, meta)
    var attempted = 0
    var failed = 0
    var correct = true

    /** One operation: failed, and the run incorrect, when it throws or
      * its check finds errors. Returns the seconds `body` reports. It
      * starts after a full collection, outside its timing, so the old
      * generation holds only live data: `peak_rss_mb` then shows the most
      * one execution fills, not how many executions the run fitted. */
    def op(body: => (Seq[String], Double)): Double = {
      attempted += 1
      System.gc()
      val (errs, secs) =
        try body
        catch { case e: Exception => e.printStackTrace(); (Seq(s"query threw $e"), 0.0) }
      if (errs.nonEmpty) {
        failed += 1
        correct = false
        errs.foreach(e => System.err.println(s"CHECK FAILED: $e"))
      }
      secs
    }

    def timedQuery(): Double = op {
      val t0 = System.nanoTime()
      val out = wl.query(spark)
      val secs = (System.nanoTime() - t0) / 1e9
      (wl.check(out), secs)
    }

    val coldS = timedQuery()
    val warm = (1 to WarmUp(workload)).map(_ => timedQuery())
    System.err.println(f"cold $coldS%.3f s, warm-up ${warm.map(s => f"$s%.3f").mkString(" ")}")

    val metrics = mutable.LinkedHashMap[String, Double]()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    if (!trace) {
      val times = mutable.ArrayBuffer[Double]()
      while (times.isEmpty || elapsed < seconds) times += timedQuery()
      System.err.println(s"timed ${times.map(s => f"$s%.3f").mkString(" ")}")
      metrics("query_s") = median(times.toSeq)
    } else {
      val tracer = new Tracer
      val listener = new ExecListener
      spark.sparkContext.addSparkListener(listener)
      val reps = mutable.ArrayBuffer[Map[String, Double]]()
      var rounds = 0
      while (rounds == 0 || elapsed < seconds) {
        rounds += 1
        var m = Map.empty[String, Double]
        op {
          val (mm, errs) = wl.traced(spark, tracer, listener)
          m = mm
          (errs, 0.0)
        }
        if (m.nonEmpty) reps += m
      }
      metrics("engine.session_s") = sessionS
      metrics("engine.cold_query_s") = coldS
      for (k <- reps.flatMap(_.keys).distinct) metrics(k) = median(reps.flatMap(_.get(k)).toSeq)
      traceFile.getParentFile.mkdirs()
      val w = new PrintWriter(traceFile, "UTF-8")
      try w.print(tracer.json) finally w.close()
    }
    wl.notes.foreach(System.err.println)
    metrics("vmhwm_mb") = vmHwmMb()
    val ms = metrics.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""RESULT {"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}""")
    0
  }
}
