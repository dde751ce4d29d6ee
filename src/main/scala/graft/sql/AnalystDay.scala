package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.merge.{IncrementalView, Merge, MorTable}

/** The "analyst day" composite — one SQL session exercising the
  * console surfaces TOGETHER, the way a warehouse user actually works
  * (reference `README.md:203-204`'s Athena persona): CREATE TABLE +
  * MERGE INTO + INSERT INTO over the graft catalog, the result read
  * back through `graft_snapshot`, span dedup via `graft_dup_spans`
  * over a LIVE-DELTA MOR table (the resolver must serve the merged
  * snapshot, not the stale base), incremental-view maintenance via
  * `graft_refresh_view`/`graft_read_view`, and a decontamination
  * report via `graft_decon_report` — composed into ONE relation so
  * the driver hash pins that the surfaces compose (each is keyed
  * alone today; composition bugs — catalog state leaking between
  * DDL and table functions, a refresh cursor confused by unrelated
  * commits in the session, a resolver reading the wrong layout — are
  * exactly what per-surface keys cannot see).
  *
  * Every step is an existing, individually-oracled recipe (x18's
  * MERGE algebra, d25's span algebra, x08's view algebra, d13's
  * shingle-overlap algebra), so the composed oracle is the UNION ALL
  * of those proven fragments projected into one all-integer/string
  * schema `(step, k1, k2, v1, v2)` — money lands as exact cents
  * (`DECIMAL * 100 → BIGINT`), never a float digit.
  *
  * Scale shape: nothing here adds cost beyond the four underlying
  * keys — the union is plan-level, each branch keeps its own
  * partition-pruned / broadcast / metadata-priced shape.
  */
object AnalystDay {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x50_sql_analyst_day" -> ((s: SparkSession, dir: String) => {
      // ---- 1) DDL + MERGE INTO + INSERT INTO (x18's session), read
      // back through graft_snapshot instead of the catalog name
      val t = graft.util.Scratch.fresh("graft_x50t_") + "/table"
      graft.Tables.lineitem(s, dir).createOrReplaceTempView("x50_lineitem")
      s.sql("DROP TABLE IF EXISTS x50_target")
      s.sql(
        s"""CREATE TABLE x50_target USING graft OPTIONS (
           |  path '$t',
           |  op 'upsert',
           |  keys 'l_orderkey,l_linenumber',
           |  precombine 'l_extendedprice',
           |  partition 'l_returnflag')
           |AS SELECT l_orderkey, l_linenumber, l_extendedprice,
           |          l_returnflag
           |   FROM x50_lineitem WHERE l_linenumber <= 2""".stripMargin)
      s.sql(
        """CREATE OR REPLACE TEMP VIEW x50_src AS
          |SELECT l_orderkey, l_linenumber,
          |       max(l_extendedprice) AS src_price,
          |       max(l_returnflag) AS src_flag
          |FROM x50_lineitem WHERE l_linenumber IN (2, 3)
          |GROUP BY 1, 2""".stripMargin)
      s.sql(
        """MERGE INTO x50_target t USING x50_src s
          |ON t.l_orderkey = s.l_orderkey
          |   AND t.l_linenumber = s.l_linenumber
          |WHEN MATCHED AND s.src_price < 2000 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET l_extendedprice = s.src_price + 1.0
          |WHEN NOT MATCHED THEN INSERT (l_orderkey, l_linenumber,
          |  l_extendedprice, l_returnflag)
          |  VALUES (s.l_orderkey, s.l_linenumber, s.src_price, s.src_flag)
          |""".stripMargin)
      s.sql(
        """INSERT INTO x50_target
          |SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
          |FROM x50_lineitem WHERE l_linenumber = 4""".stripMargin)

      // ---- 2) span dedup over a MOR table WITH live deltas: two
      // disjoint-key upserts (base commit + delta commit), so the
      // snapshot equals the full documents relation while the read
      // MUST go through the delta-merging resolver
      val mor = graft.util.Scratch.fresh("graft_x50mor_")
      val docs = graft.Tables.documents(s, dir)
      MorTable.upsert(s, docs.filter(col("doc_id") % 2 === 0), mor,
        Seq("doc_id"), "n_chars", Seq.empty)
      MorTable.upsert(s, docs.filter(col("doc_id") % 2 =!= 0), mor,
        Seq("doc_id"), "n_chars", Seq.empty)
      require(MorTable.hasLiveDeltas(s, mor),
        "x50 premise broken: the MOR docs table must carry live deltas")

      // ---- 3) incremental-view maintenance (x08's replay), both
      // refreshes issued from SQL
      val src = Merge.scratchTable("graft_x50s_")
      val vw = Merge.scratchTable("graft_x50v_")
      def b(i: Int): DataFrame = Merge.replayBatch(s, dir, i, 50000)
        .withColumn("bucket", col("okey") % 10)
      Merge.upsert(s, b(0), src, Seq("okey"), "pre", "part")
      IncrementalView.create(s, src, vw, srcKeys = Seq("okey", "part"),
        groupCols = Seq("part", "bucket"), sumCol = "price",
        partitionCol = "part")
      Merge.upsert(s, b(1), src, Seq("okey"), "pre", "part")
      s.sql(s"SELECT * FROM graft_refresh_view('$vw')").collect()
      Merge.delete(s, b(0).filter(col("pre") % 3 === 0)
        .select("okey", "part"), src, Seq("okey"), Seq("part"))
      s.sql(s"SELECT * FROM graft_refresh_view('$vw')").collect()

      // ---- 4) decontamination report over the x49 corpus/eval split
      // (same cached materialization — literally the same artifact)
      val base = graft.util.Scratch.cached("x49:" + dir, "graft_x49_") {
        p =>
          docs.filter(col("doc_id") >= 10).write.parquet(p + "/corpus")
          docs.filter(col("doc_id") < 10).write.parquet(p + "/eval")
      }

      // ---- the composed relation: one schema, exact integers only
      s.sql(
        s"""SELECT 'merge' AS step, l_returnflag AS k1,
           |       CAST(l_linenumber AS BIGINT) AS k2,
           |       COUNT(*) AS v1,
           |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100
           |            AS BIGINT) AS v2
           |FROM graft_snapshot('$t')
           |GROUP BY l_returnflag, l_linenumber
           |UNION ALL
           |SELECT 'spans', '', doc_id, dup_grams, dup_tokens
           |FROM graft_dup_spans('$mor', 8)
           |UNION ALL
           |SELECT 'ivm', part, bucket,
           |       CAST(sum_v * 100 AS BIGINT), n_rows
           |FROM graft_read_view('$vw')
           |UNION ALL
           |SELECT 'decon', '', id, n_shingles, n_shared
           |FROM graft_decon_report('$base/corpus', '$base/eval')
           |ORDER BY step, k1, k2""".stripMargin)
    }))

  /** The composed oracle: the four proven per-surface algebras (x18,
    * d25, x08, d13 — copied by fragment reference, never re-derived)
    * projected into the shared (step, k1, k2, v1, v2) schema. */
  val oracle: Map[String, String] = Map(
    "x50_sql_analyst_day" ->
      s"""WITH ${graft.dedup.Dedup.spanBaseCtesSql},
         |${graft.dedup.Dedup.spanGramCteSql()},
         |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
         |dp AS (SELECT doc_id, pos FROM g
         |       WHERE gram IN (SELECT gram FROM dup)),
         |${graft.dedup.Dedup.spanCovCtesSql},
         |tgt0 AS (
         |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
         |  FROM (
         |    SELECT l_orderkey, l_linenumber, l_extendedprice,
         |           l_returnflag,
         |           row_number() OVER (
         |             PARTITION BY l_orderkey, l_linenumber, l_returnflag
         |             ORDER BY l_extendedprice DESC) AS rn
         |    FROM lineitem WHERE l_linenumber <= 2) WHERE rn = 1),
         |msrc AS (
         |  SELECT l_orderkey, l_linenumber,
         |         max(l_extendedprice) AS src_price,
         |         max(l_returnflag) AS src_flag
         |  FROM lineitem WHERE l_linenumber IN (2, 3) GROUP BY 1, 2),
         |ins4 AS (
         |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
         |  FROM (
         |    SELECT l_orderkey, l_linenumber, l_extendedprice,
         |           l_returnflag,
         |           row_number() OVER (
         |             PARTITION BY l_orderkey, l_linenumber, l_returnflag
         |             ORDER BY l_extendedprice DESC) AS rn
         |    FROM lineitem WHERE l_linenumber = 4) WHERE rn = 1),
         |merged AS (
         |  SELECT t.l_orderkey, t.l_linenumber,
         |         CASE WHEN s.l_orderkey IS NOT NULL
         |              THEN s.src_price + 1.0
         |              ELSE t.l_extendedprice END AS l_extendedprice,
         |         t.l_returnflag
         |  FROM tgt0 t LEFT JOIN msrc s
         |    ON t.l_orderkey = s.l_orderkey
         |   AND t.l_linenumber = s.l_linenumber
         |  WHERE s.l_orderkey IS NULL OR s.src_price >= 2000
         |  UNION ALL
         |  SELECT s.l_orderkey, s.l_linenumber, s.src_price, s.src_flag
         |  FROM msrc s WHERE NOT EXISTS (
         |    SELECT 1 FROM tgt0 t
         |    WHERE t.l_orderkey = s.l_orderkey
         |      AND t.l_linenumber = s.l_linenumber)
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
         |  FROM ins4),
         |sh AS (SELECT * FROM ${graft.dedup.Dedup.shinglesSql}),
         |corpus_sh AS (SELECT DISTINCT doc_id AS id, sh FROM sh
         |              WHERE doc_id >= 10),
         |eval_sh AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 10),
         |totals AS (SELECT id, COUNT(*) AS n_shingles FROM corpus_sh
         |           GROUP BY id),
         |shared AS (SELECT id, COUNT(*) AS n_shared
         |           FROM corpus_sh JOIN eval_sh USING (sh) GROUP BY id),
         |view_rows AS (
         |  SELECT part, okey % 10 AS bucket,
         |         CAST(SUM(CAST(price AS DECIMAL(12,2))) * 100
         |              AS BIGINT) AS cents,
         |         COUNT(*) AS n_rows
         |  FROM (${Merge.replaySqlMod(50000)})
         |  GROUP BY part, okey % 10)
         |SELECT 'merge' AS step, l_returnflag AS k1,
         |       CAST(l_linenumber AS BIGINT) AS k2,
         |       COUNT(*) AS v1,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100
         |            AS BIGINT) AS v2
         |FROM merged GROUP BY l_returnflag, l_linenumber
         |UNION ALL
         |SELECT 'spans', '', b.doc_id,
         |       COALESCE(cov.dup_grams, 0), COALESCE(cov.dup_tokens, 0)
         |FROM base b LEFT JOIN cov USING (doc_id)
         |UNION ALL
         |SELECT 'ivm', part, bucket, cents, n_rows FROM view_rows
         |UNION ALL
         |SELECT 'decon', '', d.doc_id,
         |       COALESCE(t.n_shingles, 0), COALESCE(s.n_shared, 0)
         |FROM documents d
         |LEFT JOIN totals t ON d.doc_id = t.id
         |LEFT JOIN shared s ON d.doc_id = s.id
         |WHERE d.doc_id >= 10
         |ORDER BY step, k1, k2""".stripMargin)
}
