package graftbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.SparkEntry
import graft.pipeline.RatingsPipeline

/** What a user receives from an op, reduced to one row: the row count and
  * the wrapping sum of `xxhash64` over every output column. Every column
  * feeds the hash, so no part of the op's plan can be pruned away (a
  * `count()` would let Catalyst drop the projections that do the work).
  * Floating-point values are hashed at six significant digits, so the
  * last-bit differences of another summation order in a parallel aggregate
  * almost never flip the digest; the sum over rows makes it independent of
  * row order. */
object Digest {
  private def canonical(c: Column, t: org.apache.spark.sql.types.DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.6g", c)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => format_string("%.6g", x))
    case _ => c
  }

  def frame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f => canonical(df.col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.select(h.as("h")).agg(count(lit(1)).as("rows"), coalesce(sum(col("h")), lit(0L)).as("hash"))
  }

  def read(d: DataFrame): (Long, Long) = {
    val r = d.collect().head
    (r.getLong(0), r.getLong(1))
  }
}

/** One execution context per run: where the tables and the generated
  * inputs are and where this run may write. `round` selects a fresh lake
  * per round. */
final class Ctx(val spark: SparkSession, val tables: String, val inDir: String, val runDir: String,
                val period: (Int, Int), val format: String) {
  var round = 0
  def dropGlob: String = f"$inDir/drops/$format/${period._1}-${period._2}%02d/*.zip"
  def roundDir: String = s"$runDir/rounds/r$round"
  def lake: String = s"$roundDir/lake"
  def memo: String = s"$roundDir/memo"
}

/** `dependent` ops read state that an independent op of the same round
  * wrote, so the seeded shuffle keeps them after all independent ops. */
final case class Op(name: String, run: Ctx => DataFrame, dependent: Boolean = false)

object Workloads {
  private def entry(name: String): Op = {
    val f = SparkEntry.queries(name)
    Op(name, c => f(c.spark, c.tables))
  }

  /** Relational, ratings-style and batch-event queries over small tables:
    * table binding, eager build jobs, Catalyst and codegen dominate. */
  val lakeServe: Seq[String] = Seq(
    "q2_min_cost_supplier", "q_topk_per_group", "q_delta_mom", "q_rollup",
    "q_running_total", "ev_sessionize", "ev_funnel")

  /** The monthly ratings flow: each round ingests the month's drop into a
    * fresh partitioned lake, re-runs it (the memo must skip it), backfills
    * it with overwrite, serves the lake, and runs a streaming query. */
  def lakeWrite: Seq[Op] = Seq(
    Op("ingest", c => RatingsPipeline.ingestPeriodCached(c.spark, c.dropGlob, c.lake,
      c.period._1, c.period._2, c.memo).getOrElse(
        throw new IllegalStateException("the first ingest of the month was skipped by the memo"))),
    entry("ev_stream_dedup"),
    // A re-run over unchanged drops must be skipped by the memo: the
    // expected digest is that of an empty result.
    Op("ingest_memo_skip", c => RatingsPipeline.ingestPeriodCached(c.spark, c.dropGlob,
      c.lake, c.period._1, c.period._2, c.memo).getOrElse(c.spark.emptyDataFrame),
      dependent = true),
    Op("backfill_overwrite", c => RatingsPipeline.ingestPeriod(c.spark, c.dropGlob,
      c.lake, c.period._1, c.period._2, overwrite = true), dependent = true),
    Op("leaderboard", c => RatingsPipeline.leaderboard(c.spark, c.lake,
      c.period._1, c.period._2, 10), dependent = true),
    Op("missing_periods", c => RatingsPipeline.missingPeriods(c.spark, c.lake,
      c.period._1, 1, c.period._1, 12), dependent = true))

  def apply(workload: String): Seq[Op] = workload match {
    case "lake_serve" => lakeServe.map(entry)
    case "lake_write" => lakeWrite
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Ops that exist only to prove the failure accounting: one throws,
    * one returns a result whose digest cannot match what is expected. */
  val faults: Seq[Op] = Seq(
    Op("fault_throws", _ => throw new RuntimeException("injected failure")),
    Op("fault_mismatch", c => c.spark.range(3).toDF("x")))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
