package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, RuleTables, SparkEntry}
import graft.fixtures.Gen
import graft.model.{PipelineConf, Turn}
import graft.oracle.RefModel
import graft.sources.Source

/** One timed workload: seeded inputs, a unit operation run in a closed loop
  * by one client, and a correctness check of each operation's outputs. */
trait Workload {
  def name: String
  /** What one operation consumes (turns or documents). */
  def rowsPerOp: Long
  /** Write the seeded inputs (and load what a deployment loads once). */
  def stage(): Unit
  def inputBytes: Long
  /** One operation writing all its sinks under `out`. */
  def op(out: String): Unit
  /** The untimed first operation of a run (JIT and code generation warm up
    * here); by default the operation itself. */
  def warmUp(out: String): Unit = op(out)
  /** Seconds one warm operation takes on the reference host (4 shared
    * cores); sets how many operations a run of `--seconds` times. */
  def nominalOpS: Double
  /** Compute the expected outputs (outside every timing). */
  def prepareReference(): Unit
  /** Mismatches of the outputs under `out`; empty when they are correct.
    * Workloads checked outside the JVM return nothing here. */
  def check(out: String): Seq[String]
}

object Workloads {
  def apply(name: String, spark: SparkSession, work: String, seed: Long,
      perturb: String): Workload = name match {
    case "batch_detect" => new BatchDetect(spark, work, seed, perturb)
    case "curation_neardup" => new CurationNearDup(spark, work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Turns in, `Pipeline.enrichPlanned` then `Pipeline.route` to the sinks. */
final class BatchDetect(spark: SparkSession, work: String, seed: Long,
    perturb: String) extends Workload {
  val name = "batch_detect"
  val conf = PipelineConf()
  val inputPath = s"$work/input/transcripts"
  val rulesDir = s"$work/input/rules"
  private var turns: Seq[Turn] = Nil
  var tables: RuleTables = _
  private var expectedRows: Seq[String] = Nil
  private var expectedSinks: Map[String, Long] = Map.empty

  def rowsPerOp: Long = turns.size.toLong
  val nominalOpS = 7.5

  def stage(): Unit = {
    turns = Gen.transcripts(Inputs.BatchConvs, seed)
    Inputs.writeTurns(spark, turns, inputPath)
    Inputs.writeRules(spark, rulesDir)
    tables = Source.readRuleTables(spark, conf, rulesDir)
  }

  def inputBytes: Long = Inputs.bytes(inputPath)

  def op(out: String): Unit = BatchDetect.detect(spark, conf, tables,
    Source.readTable(spark, conf, inputPath), out)

  def prepareReference(): Unit = {
    val (rows, sinks) = BatchDetect.reference(turns, conf)
    expectedRows = rows
    expectedSinks = sinks
  }

  def check(out: String): Seq[String] = {
    val counts = BatchDetect.readSinkCounts(out)
    val rows = BatchDetect.routedRows(spark.read.parquet(s"$out/alerts_all"))
    // the gate's self-check: a perturbed sink count or routed row must fail
    val (c, r) = perturb match {
      case "sink" => (counts.updated("high", counts.getOrElse("high", 0L) + 1L), rows)
      case "row" => (counts, rows.headOption.map(_ + "0").toSeq ++ rows.drop(1))
      case _ => (counts, rows)
    }
    BatchDetect.compare(expectedSinks, expectedRows, c, r)
  }
}

object BatchDetect {
  /** The operation: enrich, then route. */
  def detect(spark: SparkSession, conf: PipelineConf, tables: RuleTables,
      turns: DataFrame, out: String): Unit = {
    val (enriched, cleanup) = Pipeline.enrichPlanned(turns, tables, conf)
    try route(spark, conf, enriched, out) finally cleanup()
  }

  /** Route enriched rows to the sinks; keep the per-sink counts next to them. */
  def route(spark: SparkSession, conf: PipelineConf, enriched: DataFrame,
      out: String): Unit =
    writeSinkCounts(out, Pipeline.route(spark, enriched, conf, out))

  def writeSinkCounts(out: String, counts: Map[String, Long]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/sink_counts.txt"),
      counts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n"))

  def readSinkCounts(out: String): Map[String, Long] = {
    val f = java.nio.file.Paths.get(s"$out/sink_counts.txt")
    if (!java.nio.file.Files.exists(f)) Map.empty
    else java.nio.file.Files.readString(f).split("\n").filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split("=")
      k -> v.toLong
    }.toMap
  }

  /** Routed rows as sorted `conv_id|turn_idx|severity|note` lines. */
  def routedRows(alerts: DataFrame): Seq[String] =
    alerts.select("conv_id", "turn_idx", "severity", "note").collect()
      .map(r => s"${r.getString(0)}|${r.getInt(1)}|${r.getString(2)}|${r.getInt(3)}")
      .toSeq.sorted

  /** RefModel on the same turns: routed lines and per-sink counts, with
    * `total` = rows that reach scoring. */
  def reference(turns: Seq[Turn], conf: PipelineConf): (Seq[String], Map[String, Long]) = {
    val rows = RefModel(turns, Gen.iocTable, Gen.sigRules, Gen.refBaseline,
      Gen.whitelistRules, conf)
    val routed = rows.filter(_.routed)
      .map(r => s"${r.turn.conv_id}|${r.turn.turn_idx}|${r.severity}|${r.note}").sorted
    val sinks = RefModel.sinkCounts(rows)
    (routed, conf.severityBands.map(_._2).map(s => s -> sinks.getOrElse(s, 0L)).toMap +
      ("total" -> rows.size.toLong))
  }

  def compare(expSinks: Map[String, Long], expRows: Seq[String],
      sinks: Map[String, Long], rows: Seq[String]): Seq[String] = {
    val sinkErr = expSinks.toSeq.sorted.collect {
      case (k, v) if !sinks.get(k).contains(v) => s"sink $k: expected $v, got ${sinks.get(k)}"
    }
    val rowErr =
      if (rows == expRows) Nil
      else {
        val missing = expRows.diff(rows)
        val extra = rows.diff(expRows)
        Seq(s"routed rows differ: ${missing.size} missing (e.g. ${missing.take(2)}), " +
          s"${extra.size} unexpected (e.g. ${extra.take(2)})")
      }
    sinkErr ++ rowErr
  }
}

/** Documents in, the composed curation pass `ta_curation` out (language
  * gate, quality floor, near-dup canonicalization through the Jaccard pairs
  * and connected components, contamination screen), written to a parquet
  * sink. All outputs are checked against the queries' DuckDB oracle SQL
  * outside the JVM. The warm-up is `ta_curation` too: it contains the
  * other two queries' Jaccard pairs and CC rounds, which run on their own,
  * and are checked, in the traced run. */
final class CurationNearDup(spark: SparkSession, work: String, seed: Long)
    extends Workload {
  val name = "curation_neardup"
  val docsDir = s"$work/input/docs"
  private var docs: Seq[Doc] = Nil

  def rowsPerOp: Long = docs.size.toLong
  val nominalOpS = 5.0

  def stage(): Unit = {
    docs = Inputs.documents(Inputs.Docs, seed)
    Inputs.writeDocs(spark, docs, s"$docsDir/documents.parquet")
  }

  def inputBytes: Long = Inputs.bytes(docsDir)

  private def write(q: String, out: String): Unit =
    SparkEntry.queries(q)(spark, docsDir).write.mode("overwrite").parquet(s"$out/$q")

  def op(out: String): Unit = write(CurationNearDup.Timed, out)

  def prepareReference(): Unit = {
    val sql = CurationNearDup.Queries.map(q => q -> Json.str(SparkEntry.oracleSql(q)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/oracle_sql.json"),
      Json.obj(sql))
  }

  def check(out: String): Seq[String] = Nil
}

object CurationNearDup {
  val Queries = Seq("dd_ngram_jaccard", "dd_cluster_cc", "ta_curation")
  val Timed = "ta_curation"
}
