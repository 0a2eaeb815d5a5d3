package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-model validation — the Spark re-expression of the
  * reference's Patito model
  * (/root/reference/prefect/flows/utils/chess_ratings_data_model.py:9-31):
  * unique key, not-null, regex, numeric range, enum membership.
  *
  * Instead of a driver-side assert, rules evaluate distributed and the
  * operator returns one row per rule with its violation count. `report`
  * reads its input once: the row rules ride the Unique rule's keyed
  * aggregate (shuffle on key, partial-agg friendly) as per-row flags.
  */
object Validate {
  sealed trait Rule { def name: String; def column: String }
  final case class NotNull(column: String) extends Rule { val name = "not_null" }
  final case class Regex(column: String, pattern: String) extends Rule { val name = "regex" }
  final case class Range(column: String, lo: Double, hi: Double) extends Rule { val name = "range" }
  final case class Enum(column: String, values: Seq[String]) extends Rule { val name = "enum" }
  final case class Unique(column: String) extends Rule { val name = "unique" }

  private def violationPred(r: Rule): Column = r match {
    case NotNull(c)   => col(c).isNull
    case Regex(c, p)  => col(c).isNotNull && !col(c).rlike(p)
    case Range(c, lo, hi) => col(c).isNotNull && (col(c) < lo || col(c) > hi)
    case Enum(c, vs)  => col(c).isNotNull && !col(c).isin(vs: _*)
    case Unique(_)    => lit(false) // handled separately
  }

  /** Generic column profile: one row per (column, metric) with the value
    * rendered as a string — the EDA/data-quality companion to `report`
    * (null_count, distinct_count, min, max). One aggregation pass per
    * table regardless of column count. */
  def profile(table: String, df: DataFrame, columns: Seq[String]): DataFrame = {
    val aggs = columns.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls:$c"),
        countDistinct(col(c)).as(s"distinct:$c"),
        min(col(c)).cast("string").as(s"min:$c"),
        max(col(c)).cast("string").as(s"max:$c"))
    }
    val agg = df.agg(aggs.head, aggs.tail: _*)
    val rows = columns.flatMap { c =>
      Seq("nulls", "distinct", "min", "max").map { m =>
        agg.select(lit(table).as("table"), lit(c).as("column"),
          lit(m).as("metric"), col(s"`$m:$c`").cast("string").as("value"))
      }
    }
    rows.reduce(_ unionAll _)
  }

  /** Referential-integrity check: orphan rows in `child` whose
    * `childCol` has no match in `parent.parentCol` (nulls are NotNull's
    * business, not FK orphans). One LEFT ANTI equijoin + count per
    * relationship — keyed shuffle at worst, AQE broadcast when the
    * parent key set is small; never a driver-side key collection.
    * Output shape matches `report` so the two union into one
    * validation run. */
  def referential(childTable: String, child: DataFrame, childCol: String,
                  parentTable: String, parent: DataFrame, parentCol: String): DataFrame =
    child.where(col(childCol).isNotNull)
      .join(parent.select(col(parentCol)), col(childCol) === col(parentCol), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit(childTable).as("table"), lit("ref_integrity").as("rule"),
        lit(s"$childCol->$parentTable.$parentCol").as("column"), col("violations"))

  /** One row per rule: (table, rule, column, violations); every count is
    * 0 on an empty input. The input is scanned once: each row rule
    * becomes a 0/1 flag on a projection of the first Unique rule's key,
    * one keyed aggregate counts each key's rows and sums its flags, and
    * one global aggregate sums those sums plus the counts of the keys
    * seen more than once (null keys group together, so they count as
    * duplicates). Without a Unique rule the flags fold into one global
    * aggregate. One `stack` emits the rule rows. A second Unique rule
    * has its own keyed aggregate, which scans the input again. */
  def report(table: String, df: DataFrame, rules: Seq[Rule]): DataFrame = {
    val rowRules = rules.filterNot(_.isInstanceOf[Unique])
    val uniques = rules.collect { case u: Unique => u }
    val flags = rowRules.indices.map(i => s"__v$i")
    val flagCols = rowRules.zip(flags).map { case (r, f) =>
      when(violationPred(r), 1L).otherwise(0L).as(f)
    }
    val sums = flags.map(f => sum(col(f)).as(f))
    val (totals, counted) = uniques.headOption match {
      case Some(u) =>
        val perKey = df.select(col(u.column).as("__key") +: flagCols: _*)
          .groupBy(col("__key")).agg(count(lit(1)).as("__n"), sums: _*)
        (perKey.agg(sum(when(col("__n") > 1, col("__n"))).as("__dup"), sums: _*),
          rowRules.zip(flags) :+ (u -> "__dup"))
      case None =>
        (df.select(flagCols: _*).agg(sums.head, sums.tail: _*), rowRules.zip(flags))
    }
    val rows = totals.select(stack(lit(counted.size) +: counted.flatMap { case (r, v) =>
      Seq(lit(table), lit(r.name), lit(r.column), coalesce(col(v), lit(0L)))
    }: _*).as(Seq("table", "rule", "column", "violations")))
    (rows +: uniques.drop(1).map { case Unique(c) =>
      df.groupBy(col(c)).agg(count(lit(1)).as("n")).where(col("n") > 1)
        .agg(coalesce(sum(col("n")), lit(0L)).as("violations"))
        .select(lit(table).as("table"), lit("unique").as("rule"),
          lit(c).as("column"), col("violations"))
    }).reduce(_ unionAll _)
  }
}
