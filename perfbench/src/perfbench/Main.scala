package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Pql, SparkEntry}
import graft.fuzz.PipelineGen
import graft.sources.Tables

/** One query of a workload: its key, its PQL text when the workload sends
  * text, and how to build its DataFrame.
  */
final case class Query(
    key: String,
    pql: Option[String],
    emittable: Boolean,
    build: SparkSession => DataFrame
)

/** A workload: which data it reads, which layer its builds belong to
  * (`compiler` or `ops`), its endless stream of passes, its warm-up, and
  * how long a pass takes on the reference VM (`passS`), which turns
  * `--seconds` into a fixed number of passes.
  */
final case class Workload(
    dir: String,
    buildLayer: String,
    passes: Iterator[Seq[Query]],
    warmup: Seq[Query],
    passS: Double
)

/** The measuring harness. Modes:
  *   - `run`: one benchmark run of one workload; prints the result JSON
  *     as the last stdout line;
  *   - `dump`: writes every `curation` output to parquet with its digest
  *     and oracle SQL, for the DuckDB cross-check.
  */
object Main {

  /** Seconds the sentinel scan takes on a quiet 4-core machine. */
  val SentinelCalibrationS = 0.235
  /** A run whose sentinel exceeds calibration by this factor is not comparable. */
  val SentinelBound = 1.5
  /** Pipelines in the `adhoc` pool (one pass), in its warm-up, and checked after the measured passes. */
  val AdhocPoolSize = 64
  val AdhocWarmup = 32
  val AdhocChecks = 8
  val ShuffleBlock = 8

  /** The §2.4 entries (`SparkEntry.opsBenchKeys`) whose DataFrame build
    * runs Spark jobs before execution: the plan-time work in `graft.ops`.
    * The other entries of that list do not fit the run's time budget.
    */
  val CurationKeys: Seq[String] = Seq(
    "dedup_clusters", "kmeans_assign", "asof_join", "decontam_overlap", "dedup_semantic",
    "dedup_semantic_auto", "dedup_semantic_drop", "dedup_embed_auto", "ann_ivf_auto",
    "ann_lsh_auto", "text_lm_score", "embed_quantize", "sample_token_budget_auto")

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    o("mode") match {
      case "run" => new Run(o).run()
      case "dump" => dump(o)
    }
  }

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (10L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def entry(key: String, dir: String): Query =
    Query(key, None, emittable = false, s => SparkEntry.queries(key)(s, dir))

  def workload(name: String, seed: Long, testdata: String): Workload = {
    // The seed shuffles each block of consecutive queries. A query keeps its
    // rough place in the pass, so the JVM's still-falling warm-up cost
    // lands on the same queries in every run instead of on whichever ones a
    // seed puts first.
    val rnd = new Random(seed)
    def order[A](xs: Seq[A]): Seq[A] = xs.grouped(ShuffleBlock).flatMap(rnd.shuffle(_)).toSeq
    def shuffled(keys: Seq[String], dir: String): Iterator[Seq[Query]] =
      Iterator.continually(order(keys).map(entry(_, dir)))
    name match {
      case "curation" =>
        val dir = s"$testdata/sf0.1"
        Workload(dir, "ops", shuffled(CurationKeys, dir), CurationKeys.map(entry(_, dir)), passS = 10.0)
      case "adhoc" =>
        val dir = s"$testdata/sf0.01"
        // Every pass sends the same pool of distinct generated pipelines, so
        // a run's medians do not swing with which pipelines a seed happened
        // to draw, and both commits of a comparison run the same queries.
        def pipelines(from: Long, n: Int): Seq[Query] = {
          val seen = scala.collection.mutable.HashSet.empty[String]
          Iterator.from(0).map(i => PipelineGen(from + i)).filter(g => seen.add(g.pql)).take(n).map { g =>
            Query(s"adhoc_${g.seed}", Some(g.pql), g.sqlEmittable,
              s => Pql.query(s, g.pql, Tables.parquetDir(s, dir)))
          }.toSeq
        }
        val pool = pipelines(1L, AdhocPoolSize)
        Workload(dir, "compiler", Iterator.continually(order(pool)), pipelines(1000001L, AdhocWarmup),
          passS = 16.0)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  val tableNames: Seq[String] = PipelineGen.tables.keys.toSeq.sorted

  def readJson(path: String): JsonNode = new ObjectMapper().readTree(new File(path))

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def digestJson(d: Digest): String =
    s"""{"rows": ${d.rows}, "cols": ${jstr(d.cols)}, "digest": ${jstr(d.hash)}}"""

  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
  }

  /** Dump the `curation` outputs for the DuckDB cross-check. */
  private def dump(o: Map[String, String]): Unit = {
    val spark = session(o("cores").toInt)
    val oracles = SparkEntry.oracleSql
    val w = workload("curation", 0L, o("testdata"))
    val entries = w.warmup.map { q =>
      val df = q.build(spark)
      df.write.mode("overwrite").parquet(s"${o("out")}/${q.key}.parquet")
      val d = Digest.of(q.build(spark))
      System.err.println(s"[dump] ${q.key}: ${d.rows} rows")
      s"""${jstr(q.key)}: {"ref": ${digestJson(d)}, "oracle": ${oracles.get(q.key).map(jstr).getOrElse("null")}}"""
    }
    write(s"${o("out")}/manifest.json",
      s"""{"dir": ${jstr(w.dir)}, "entries": {\n${entries.mkString(",\n")}\n}}\n""")
    spark.stop()
  }
}
