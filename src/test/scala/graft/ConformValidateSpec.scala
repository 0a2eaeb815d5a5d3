package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{Conform, ConformSpec, Validate}

class ConformValidateSpec extends SparkSpec {
  import spark.implicits._

  test("Conform renames, casts, code-maps, adds missing, enriches") {
    val df = Seq(("F", 10), ("M", 20), ("X", 30)).toDF("sex", "v")
    val out = Conform(df, ConformSpec(
      renames = Map("sex" -> "sex_code", "v" -> "value"),
      casts = Map("v" -> "long"),
      codeMaps = Map("sex" -> Map("F" -> 0, "M" -> 1)),
      addMissing = Seq("foa_title" -> "string"),
      enrich = Seq("period_year" -> lit(2024))))
    assert(out.columns.toSeq === Seq("sex_code", "value", "foa_title", "period_year"))
    val rows = out.collect()
    assert(rows.map(r => Option(r.get(0))).toSeq === Seq(Some(0), Some(1), None)) // unmapped -> null
    assert(out.schema("value").dataType.typeName === "long")
    assert(rows.forall(_.isNullAt(2)))
  }

  test("Validate counts violations per declarative rule") {
    import Validate._
    val df = Seq(
      (1, "ABC", 50.0), (2, "bad!", 150.0), (2, "DEF", -5.0), (3, null, 20.0)
    ).toDF("id", "code", "score")
    val rep = Validate.report("t", df, Seq(
      NotNull("code"), Regex("code", "^[A-Z]{3}$"), Range("score", 0, 100), Unique("id")))
      .collect().map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(rep(("not_null", "code")) === 1L)
    assert(rep(("regex", "code")) === 1L)
    assert(rep(("range", "score")) === 2L)
    assert(rep(("unique", "id")) === 2L) // both rows of the duplicated key
  }

  /** `report` as a union of branches, the form it had before it scanned
    * its input once: one global aggregate selected once per row rule, and
    * one keyed aggregate per Unique rule. The reference for parity. */
  private def unionReport(table: String, df: DataFrame, rules: Seq[Validate.Rule]): DataFrame = {
    import Validate._
    def violation(r: Rule): Column = r match {
      case NotNull(c) => col(c).isNull
      case Regex(c, p) => col(c).isNotNull && !col(c).rlike(p)
      case Range(c, lo, hi) => col(c).isNotNull && (col(c) < lo || col(c) > hi)
      case Enum(c, vs) => col(c).isNotNull && !col(c).isin(vs: _*)
      case Unique(_) => lit(false)
    }
    val rowRules = rules.filterNot(_.isInstanceOf[Unique])
    val rowDfs =
      if (rowRules.isEmpty) Nil
      else {
        val agg = df.agg(sum(when(violation(rowRules.head), 1L).otherwise(0L)).as("v0"),
          rowRules.indices.tail.map(i => sum(when(violation(rowRules(i)), 1L).otherwise(0L)).as(s"v$i")): _*)
        rowRules.zipWithIndex.map { case (r, i) =>
          agg.select(lit(table).as("table"), lit(r.name).as("rule"), lit(r.column).as("column"),
            col(s"v$i").as("violations"))
        }
      }
    val uniqueDfs = rules.collect { case Unique(c) =>
      df.groupBy(col(c)).agg(count(lit(1)).as("n")).where(col("n") > 1)
        .agg(coalesce(sum(col("n")), lit(0L)).as("violations"))
        .select(lit(table).as("table"), lit("unique").as("rule"), lit(c).as("column"), col("violations"))
    }
    (rowDfs ++ uniqueDfs).reduce(_ unionAll _)
  }

  private def rowsOf(df: DataFrame): Seq[(String, String, String, Option[Long])] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
      if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq.sortBy(_.toString)

  test("the one-scan report equals the union form on every rule shape") {
    import Validate._
    val df = Seq[(Option[Int], Option[String], Option[Double], Option[String])](
      (Some(1), Some("ABC"), Some(50.0), Some("O")), (Some(2), Some("bad!"), Some(150.0), Some("F")),
      (Some(2), Some("DEF"), Some(-5.0), Some("X")), (None, None, Some(20.0), None),
      (None, Some("GHI"), None, Some("P")), (Some(3), Some("JKL"), Some(0.0), Some("O"))
    ).toDF("id", "code", "score", "status")
    val row = Seq(NotNull("code"), Regex("code", "^[A-Z]{3}$"), Range("score", 0, 100),
      Enum("status", Seq("O", "F", "P")))
    val shapes = Seq(
      "all rule kinds" -> (row :+ Unique("id")),
      "no unique rule" -> row,
      "only a unique rule" -> Seq(Unique("id")),
      "two unique rules" -> (Unique("id") +: row :+ Unique("code")),
      "unique rule first, over a key with a null" -> Seq(Unique("status"), NotNull("id")))
    for ((shape, rules) <- shapes)
      assert(rowsOf(Validate.report("t", df, rules)) === rowsOf(unionReport("t", df, rules)), shape)
    // the two rows with a null id are one duplicated key
    assert(rowsOf(Validate.report("t", df, Seq(Unique("id")))) === Seq(("t", "unique", "id", Some(4L))))
    // on an empty frame the union form reads NULL for the row rules
    val empty = df.limit(0)
    val rules = row :+ Unique("id")
    assert(rowsOf(Validate.report("t", empty, rules)) ===
      rowsOf(unionReport("t", empty, rules)).map(r => r.copy(_4 = r._4.orElse(Some(0L)))))
  }

  test("Validate reports 0 violations, not NULL, on an empty frame") {
    import Validate._
    val empty = Seq.empty[(Int, String, Double)].toDF("id", "code", "score")
    for (rules <- Seq(
        Seq(NotNull("code"), Regex("code", "^[A-Z]{3}$"), Range("score", 0, 100), Unique("id")),
        Seq(NotNull("code"), Enum("code", Seq("A"))))) {
      val rows = rowsOf(Validate.report("t", empty, rules))
      assert(rows.size === rules.size)
      assert(rows.forall(_._4 === Some(0L)), rows.mkString(", "))
    }
  }

  test("Validate.referential counts FK orphans, leaves nulls to NotNull") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(2L), Some(99L), Some(98L), None).toDF("fk")
    val rep = Validate.referential("child", child, "fk", "parent", parent, "pk").head
    assert(rep.getString(0) === "child" && rep.getString(1) === "ref_integrity")
    assert(rep.getString(2) === "fk->parent.pk")
    assert(rep.getLong(3) === 2L) // 99 and 98; the null is NOT an orphan
  }

  test("drift report covers every metric pair, keeps stable metrics unflagged") {
    val drift = graft.queries.IngestQueries.validateDriftQ(spark, Sf)
      .select("column", "metric", "drifted")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // 3 columns x 4 metrics, every pair present exactly once
    assert(drift.size === 12)
    // no nulls in either slice -> the null metrics never drift
    assert(Seq("o_orderstatus", "o_orderpriority", "o_custkey")
      .forall(c => drift((c, "nulls")) === 0L))
    // the slices are different months of orders: something must drift
    assert(drift.valuesIterator.sum >= 1L)
  }

  test("per-source dedup report is consistent with the corpus and survivors") {
    import graft.queries.TextQueries
    val docs = graft.sources.TableLoader.load(spark, Sf, "documents")
    val stats = TextQueries.dedupStatsQ(spark, Sf)
    val totals = stats.agg(sum("n_docs"), sum("n_survivors"), sum("n_pruned")).head
    assert(totals.getLong(0) === docs.count())
    assert(totals.getLong(0) === totals.getLong(1) + totals.getLong(2))
    // survivors per source must equal the dedup_corpus terminal per source
    val corpusBySource = graft.operators.Dedup.dedupedCorpus(docs,
        graft.operators.Dedup.ngramJaccardPairs(docs, tauBp = 6000L))
      .groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val survBySource = stats.select("source", "n_survivors")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(survBySource === corpusBySource)
  }
}
