package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Pql
import graft.compiler.PqlCompileException
import graft.functions.GraftExtensions
import graft.sources.Tables

import Main.{jstr, readJson}

/** One benchmark run: set up, warm up while checking outputs, time the
  * sentinel, measure a fixed number of closed-loop passes (about
  * `--seconds` worth on the reference VM), time the sentinel again, and
  * print the metrics.
  */
final class Run(o: Map[String, String]) {
  private val wlName = o("workload")
  private val seed = o("seed").toLong
  private val seconds = o("seconds").toDouble
  private val traced = o("trace") == "1"
  private val cores = o("cores").toInt
  private val testdata = o("testdata")
  private val w = Main.workload(wlName, seed, testdata)

  private var attempted = 0L
  private var failed = 0L
  /** Output rows per query key, from the digests taken while checking. */
  private val outputRows = scala.collection.mutable.HashMap.empty[String, Long]

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED $what: ${e.getClass.getSimpleName}: " +
      String.valueOf(e.getMessage).take(300))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val born = System.nanoTime()
  private def log(msg: String): Unit = System.err.println(f"[perfbench ${secs(born)}%6.1fs] $msg")

  /** Session start, catalog resolution and a first tiny job. */
  private def setupOnce(): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = Main.session(cores)
    val cat = Tables.parquetDir(spark, w.dir)
    Main.tableNames.foreach(t => cat(t).schema)
    if (wlName == "adhoc") {
      GraftExtensions.register(spark)
      Main.tableNames.foreach(t => cat(t).createOrReplaceTempView(t))
    }
    spark.range(4).selectExpr("sum(id)").collect()
    (spark, secs(t0))
  }

  private def sentinel(spark: SparkSession): Double = {
    val df = Tables.parquetDir(spark, s"$testdata/sf0.1")("lineitem")
    def once(): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      secs(t0)
    }
    once()
    Stats.median(Seq.fill(3)(once()))
  }

  private def check(what: String)(body: => Option[String]): Unit = {
    attempted += 1
    try body.foreach(m => fail(what, new IllegalStateException(m)))
    catch { case NonFatal(e) => fail(what, e) }
  }

  private def compare(expected: Digest, got: Digest): Option[String] =
    if (expected == got) None else Some(s"output digest $got, expected $expected")

  /** Warm-up pass that doubles as the output check. */
  private def warmupAndCheck(spark: SparkSession): Unit =
    if (wlName == "adhoc") {
      // Ad-hoc outputs are checked on measured pipelines, after the clock stops.
      val untimed = new Recorder(spark.sparkContext, traced = false)
      w.warmup.foreach(q => runQuery(spark, untimed, -1, q))
    } else {
      val refs = readJson(o("refs")).path("queries").path(wlName)
      w.warmup.foreach { q =>
        check(q.key) {
          val r = refs.path(q.key)
          val got = Digest.of(q.build(spark))
          outputRows(q.key) = got.rows
          if (r.isMissingNode) Some("no reference digest recorded")
          else compare(Digest(r.path("rows").asLong, r.path("cols").asText, r.path("digest").asText), got)
        }
      }
    }

  /** Plan path against the SQL-text path, on pipelines the text backend emits. */
  private def checkAdhoc(spark: SparkSession, q: Query): Unit = check(q.key) {
    val text = q.pql.get
    val plan = Digest.of(q.build(spark))
    outputRows(q.key) = plan.rows
    render(spark, text).flatMap(sql => compare(plan, Digest.of(spark.sql(sql))))
  }

  /** The SQL text of a pipeline, or None when the text backend rejects it. */
  private def render(spark: SparkSession, text: String): Option[String] =
    try Some(Pql.compileToSql(text, Tables.parquetDir(spark, w.dir)))
    catch { case _: PqlCompileException => None }

  /** One query, timed layer by layer: text to materialised result, then
    * the SQL-text rendering when the query is PQL.
    */
  private def runQuery(spark: SparkSession, rec: Recorder, pass: Int, q: Query): Unit = {
    attempted += 1
    try rec.span("query", pass, q.key) { _ =>
      q.pql.foreach(t => rec.span("parse", pass)(_ => Pql.parse(t)))
      val df = rec.span("build", pass)(_ => q.build(spark))
      rec.span("plan", pass)(_ => df.queryExecution.executedPlan)
      rec.span("exec", pass)(_ => df.write.format("noop").mode("overwrite").save())
      q.pql.foreach(t => rec.span("render", pass)(id => if (render(spark, t).isEmpty) rec.rejected += id))
    } catch { case NonFatal(e) => fail(q.key, e) }
  }

  def run(): Unit = {
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 0 until Run.SetupCycles) {
      if (spark != null) spark.stop()
      val (s, t) = setupOnce()
      spark = s
      setups += t
    }
    log("set up")
    val tw = System.nanoTime()
    warmupAndCheck(spark)
    // Cold start: the first set-up plus the warm-up. Only these pay graft's
    // and Spark's one-time costs (class loading, initialisers).
    val startS = setups.head + secs(tw)
    log("warmed up and checked outputs")
    val sentinelBefore = sentinel(spark)
    log("sentinel")

    val rec = new Recorder(spark.sparkContext, traced)
    val measured = ArrayBuffer.empty[Query]
    // The pass count depends on --seconds only, never on the clock, so both
    // commits of a comparison measure the same queries the same number of times.
    val nPasses = math.max(1, math.round(seconds / w.passS).toInt)
    for (pass <- 0 until nPasses) {
      val batch = w.passes.next()
      rec.span("pass", pass)(_ => batch.foreach(q => runQuery(spark, rec, pass, q)))
      measured ++= batch
    }
    rec.drain()
    log(s"measured $nPasses passes")
    // Outputs of measured ad-hoc pipelines are checked after the measured passes.
    measured.filter(_.emittable).take(Main.AdhocChecks).foreach(q => checkAdhoc(spark, q))
    log("checked measured outputs")
    val sentinelAfter = sentinel(spark)
    val ratio = math.max(sentinelBefore, sentinelAfter) / Main.SentinelCalibrationS
    if (ratio > Main.SentinelBound)
      System.err.println(f"[perfbench] NOT COMPARABLE: sentinel $sentinelBefore%.3f/$sentinelAfter%.3f s " +
        f"is ${ratio}%.2fx the ${Main.SentinelCalibrationS}%.2f s calibration")

    val report = new Report(rec, w.buildLayer, cores, outputRows.toMap)
    if (traced) Report.writeSpans(s"${o("out")}/spans-$wlName-$seed.jsonl", rec)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) report.endToEnd(setups.toSeq, startS)
      else report.perLayer ++ Seq(
        ("env.sentinel_ratio", ratio, "x"),
        ("env.comparable", if (ratio > Main.SentinelBound) 0.0 else 1.0, "bool"),
        ("error_ratio", failed.toDouble / math.max(1L, attempted), "ratio"))
    System.err.println(f"[perfbench] $wlName seed=$seed passes=$nPasses queries=${report.queries.size} " +
      f"setup=${setups.map(s => f"$s%.2f").mkString("/")} start=$startS%.2f sentinel=$sentinelBefore%.3f/$sentinelAfter%.3f " +
      f"failed=$failed/$attempted")
    spark.stop()
    val ms = metrics.map { case (k, v, u) =>
      s"${jstr(k)}: {\"value\": ${Stats.num(v)}, \"unit\": ${jstr(u)}}"
    }
    // The sentinel verdict rides on every run, on the line above the result.
    println(s"""{"env": {"sentinel_ratio": ${Stats.num(ratio)}, "comparable": ${ratio <= Main.SentinelBound}}}""")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
  }
}

object Run {
  /** Set-ups per run; `setup_s` is their median, so the first (cold JVM) one
    * does not decide it. `start_s` reports that first one plus the warm-up.
    */
  val SetupCycles = 3
}
