package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Row-level data-quality expectations: named predicates evaluated over
  * a table in ONE pass, with an aggregate report and a row-level split.
  * The shape Delta Live Tables calls expectations and dbt calls tests —
  * the quality gate a 100 TB ingestion pipeline runs on every batch
  * before publishing (the reference's analogue is its per-record
  * schema-validation predicates, `model/Model.scala` §P6, generalized
  * here to arbitrary rule sets).
  *
  * NULL semantics: a rule PASSES only when its predicate is TRUE — a
  * NULL predicate (NULL input under three-valued logic) counts as a
  * violation, because "unknown" is exactly what a quality gate exists
  * to catch. Violation = `NOT coalesce(pred, FALSE)` on both engines.
  *
  * Scale shape: [[report]] is one column-pruned scan feeding one
  * single-row aggregate (per-rule conditional sums partial-aggregate
  * map-side; the shuffle carries one row per map task), then the
  * per-rule rows are EXPLODED from that single row — rules never
  * multiply the scan. [[annotate]]/[[split]] are narrow (a computed
  * array column + filters): the split never shuffles at all.
  */
object Expectations {

  /** A named expectation: `pred` must evaluate TRUE for a row to pass. */
  final case class Expectation(name: String, pred: Column)

  private def violated(e: Expectation): Column =
    !coalesce(e.pred, lit(false))

  /** Per-rule aggregate report: (rule, n_rows, n_violations, pass) —
    * one row per rule from ONE scan of `df`. */
  def report(df: DataFrame, rules: Seq[Expectation]): DataFrame = {
    require(rules.nonEmpty, "report needs at least one expectation")
    require(rules.map(_.name).distinct.size == rules.size,
      s"duplicate expectation names: ${rules.map(_.name).mkString(", ")}")
    val aggs = count(lit(1)).as("__n") +:
      rules.map(r => sum(violated(r).cast("long")).as(s"__v_${r.name}"))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rules.map(r => struct(
        lit(r.name).as("rule"),
        col("__n").as("n_rows"),
        col(s"__v_${r.name}").as("n_violations"),
        (col(s"__v_${r.name}") === 0).as("pass"))): _*)).as("r"))
      .select("r.*")
  }

  /** `df` plus a `_failed_expectations` array column naming every rule
    * the row violates (empty array = clean row). Narrow — no shuffle. */
  def annotate(df: DataFrame, rules: Seq[Expectation]): DataFrame =
    df.withColumn("_failed_expectations",
      filter(
        array(rules.map(r =>
          when(violated(r), lit(r.name)).otherwise(lit(null))): _*),
        c => c.isNotNull))

  /** (clean rows, violating rows annotated with their failed rules) —
    * the quarantine split: clean rows flow on unchanged, violations
    * carry the evidence needed to triage them. Both sides are filters
    * over one [[annotate]] plan; no shuffle on either. */
  def split(df: DataFrame, rules: Seq[Expectation])
      : (DataFrame, DataFrame) = {
    val tagged = annotate(df, rules)
    (tagged.filter(size(col("_failed_expectations")) === 0)
       .drop("_failed_expectations"),
     tagged.filter(size(col("_failed_expectations")) > 0))
  }

  type Q = (SparkSession, String) => DataFrame

  private def lineitemRules: Seq[Expectation] = Seq(
    Expectation("qty_in_range",
      col("l_quantity").between(1.0, 50.0)),
    Expectation("discount_cap",
      col("l_discount") <= 0.05),
    Expectation("price_floor",
      col("l_extendedprice") > 10000.0),
    Expectation("flag_domain",
      col("l_returnflag").isin("A", "N", "R")),
    Expectation("key_present",
      col("l_orderkey").isNotNull))

  /** p03: the expectation report over lineitem — a mixed rule set (two
    * that hold, two with real violation mass, one NULL-guard) so the
    * hash pins counts, pass flags, AND the NULL semantics. */
  /** Streaming quality monitoring: the [[report]] gate run PER
    * MICRO-BATCH inside a foreachBatch drain — the DLT-expectations-
    * on-a-stream shape (every ingestion batch gets its own report row
    * set before publishing; an alerting sink reads them live). The
    * per-rule counts are ADDITIVE, so the batch reports must sum to
    * exactly the whole-corpus report — the invariant the p06 oracle
    * pins. Rules here watch the event firehose: a value cap, an
    * error-type alarm, and a user-id sanity gate. */
  private def eventRules = Seq(
    Expectation("no_errors", col("event_type") =!= "error"),
    Expectation("user_known", col("user_id") >= 0),
    Expectation("value_cap", col("value") <= 100.0))

  private def drainStreamReport(s: SparkSession, dir: String): DataFrame = {
    val in = graft.streaming.EventStreams.prepareDrainInput(s, dir, 1,
      Seq(col("event_id") % 2 === 0, col("event_id") % 2 === 1))
    val run = graft.util.Scratch.fresh("graft_p06")
    val outDir = s"$run/out"
    graft.util.StreamTuning.drain(s, in, s"$run/ckpt") {
      graft.streaming.EventStreams.eventsFrom(s, in).writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val real = batch.filter(col("event_id") =!= -1L)
          if (!real.isEmpty)
            report(real, eventRules).withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(outDir)
          ()
        }
    }
    s.read.parquet(outDir)
      .groupBy("rule")
      .agg(
        count(lit(1)).as("n_batches"),
        sum(col("n_rows")).as("n_rows"),
        sum(col("n_violations")).as("n_violations"),
        (sum(col("n_violations")) === 0).as("pass"))
      .orderBy("rule")
  }

  val queries: Map[String, Q] = Map(
    "p03_expectations" -> ((s, dir) =>
      report(Tables.lineitem(s, dir), lineitemRules)
        .orderBy("rule")),
    "p06_stream_expectations" -> ((s, dir) =>
      drainStreamReport(s, dir)))

  val oracle: Map[String, String] = Map(
    // violation = NOT COALESCE(pred, FALSE): the engine's three-valued
    // contract restated per rule
    "p03_expectations" -> {
      val rules = Seq(
        "qty_in_range" -> "l_quantity BETWEEN 1.0 AND 50.0",
        "discount_cap" -> "l_discount <= 0.05",
        "price_floor" -> "l_extendedprice > 10000.0",
        "flag_domain" -> "l_returnflag IN ('A', 'N', 'R')",
        "key_present" -> "l_orderkey IS NOT NULL")
      rules.map { case (n, p) =>
        s"""SELECT '$n' AS rule, COUNT(*) AS n_rows,
           |  COUNT(CASE WHEN NOT COALESCE($p, FALSE) THEN 1 END) AS n_violations,
           |  COUNT(CASE WHEN NOT COALESCE($p, FALSE) THEN 1 END) = 0 AS pass
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY rule")
    },
    // additive-report invariant: the summed per-batch reports equal
    // the whole-corpus report; the even/odd split always yields
    // exactly 2 non-empty batches (the sentinel batch filters empty
    // and writes nothing)
    "p06_stream_expectations" -> {
      val rules = Seq(
        "no_errors" -> "event_type <> 'error'",
        "user_known" -> "user_id >= 0",
        "value_cap" -> "value <= 100.0")
      rules.map { case (n, p) =>
        s"""SELECT '$n' AS rule, CAST(2 AS BIGINT) AS n_batches,
           |  COUNT(*) AS n_rows,
           |  COUNT(CASE WHEN NOT COALESCE($p, FALSE) THEN 1 END) AS n_violations,
           |  COUNT(CASE WHEN NOT COALESCE($p, FALSE) THEN 1 END) = 0 AS pass
           |FROM events""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY rule")
    })
}
