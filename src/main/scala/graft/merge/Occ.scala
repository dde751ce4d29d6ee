package graft.merge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Optimistic concurrency, end-to-end: two writers upserting ONE
  * versioned table at the same time.
  *
  * The reference serializes its pipeline externally
  * (`max_concurrent_runs = 1`, `terraform/glue.tf:94-96`); this key
  * exercises what that setting exists to avoid — and what a 100 TB
  * deployment with several ingest pipelines hits daily. The engine's
  * concurrency model (Hudi-OCC-shaped, see [[Merge]] scaladoc):
  *
  *  - commit IDS are race-free everywhere: the exclusive-create
  *    inflight marker gives each writer a distinct id no matter the
  *    interleaving;
  *  - non-conflicting DATA commits (disjoint file groups — here,
  *    disjoint hive partitions) both land, because their supersede /
  *    rename sets never intersect;
  *  - conflicting commits are detected (vanished-superseded-file
  *    check) and fail loudly before publishing, leaving the table on
  *    the winner's state.
  *
  * The driver key runs the SUCCESS path — two threads, disjoint
  * partition sets, one table — and hash-checks the final state against
  * a serial replay in DuckDB (disjointness makes the serial order
  * irrelevant, which is exactly what makes the oracle deterministic).
  * The conflict path stays spec-pinned (`MergeSpec` "vanished
  * superseded file").
  */
object Occ {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "x19_concurrent_writers" -> { (s, dir) =>
      val t = graft.util.Scratch.fresh("graft_x19_") + "/table"
      val keys = Seq("l_orderkey", "l_linenumber")
      val base = lineitem(s, dir).select(col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"), col("l_returnflag"))
      // seed commit: all of lnum <= 2, serially
      Merge.upsert(s, base.filter(col("l_linenumber") <= 2), t,
        keys, "l_extendedprice", Seq("l_returnflag"))
      // two RACING writers on disjoint partition sets: A bumps the
      // 'A' partition, B bumps 'N' + 'R' — their file groups never
      // intersect, so OCC lets both land
      val batchA = base.filter(col("l_linenumber") === 2 &&
          col("l_returnflag") === "A")
        .withColumn("l_extendedprice", col("l_extendedprice") + lit(10.0))
      val batchB = base.filter(col("l_linenumber") === 2 &&
          col("l_returnflag").isin("N", "R"))
        .withColumn("l_extendedprice", col("l_extendedprice") + lit(20.0))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val fa = Future(Merge.upsert(s, batchA, t, keys,
        "l_extendedprice", Seq("l_returnflag")))
      val fb = Future(Merge.upsert(s, batchB, t, keys,
        "l_extendedprice", Seq("l_returnflag")))
      val ca = Await.result(fa, 10.minutes)
      val cb = Await.result(fb, 10.minutes)
      require(ca != cb, "exclusive claim shared a commit id")
      // 3 = seed + both racers: proves neither writer aborted
      // (metadata-scale count, like the x17 commit-cursor collect)
      val nCommits = Merge.commits(s, t).count()
      Merge.readTable(s, t)
        .groupBy("l_returnflag", "l_linenumber")
        .agg(count(lit(1)).as("n"),
          d(sum(dec(col("l_extendedprice")))).as("total"))
        .withColumn("n_commits", lit(nCommits))
        .orderBy("l_returnflag", "l_linenumber")
    },

    /** x30: the SQL mutation surface under concurrency — `MERGE INTO`
      * and `DELETE FROM` racing from TWO SESSIONS (`newSession()`:
      * separate session states, shared catalog — the closest two
      * JDBC-ish clients get in one JVM). The statements compile to the
      * same claim-chain-versioned paths as the API (x18/x20), so the
      * exclusive-create inflight marker serializes id allocation across
      * sessions; the touched file groups are disjoint by construction
      * (the MERGE pins partition 'A' in its ON clause; the DELETE pins
      * partition 'N'), so BOTH land — x19's disjointness argument, which
      * is also what makes the serial-replay oracle order-free and the
      * hash deterministic. The observed commit order is reported loudly
      * (stderr), the output hash doesn't depend on it. */
    "x30_sql_occ_race" -> { (s, dir) =>
      val t = graft.util.Scratch.fresh("graft_x30_") + "/table"
      lineitem(s, dir).createOrReplaceTempView("x30_lineitem")
      s.sql("DROP TABLE IF EXISTS x30_target")
      s.sql(
        s"""CREATE TABLE x30_target USING graft OPTIONS (
           |  path '$t',
           |  op 'upsert',
           |  keys 'l_orderkey,l_linenumber',
           |  precombine 'l_extendedprice',
           |  partition 'l_returnflag')
           |AS SELECT l_orderkey, l_linenumber, l_extendedprice,
           |          l_returnflag
           |   FROM x30_lineitem WHERE l_linenumber <= 2""".stripMargin)
      val sessA = s.newSession()
      val sessB = s.newSession()
      graft.Tables.lineitem(sessA, dir)
        .createOrReplaceTempView("x30_src_li")
      sessA.sql(
        """CREATE OR REPLACE TEMP VIEW x30_src AS
          |SELECT l_orderkey, l_linenumber,
          |       max(l_extendedprice) AS src_price
          |FROM x30_src_li
          |WHERE l_returnflag = 'A' AND l_linenumber IN (2, 3)
          |GROUP BY 1, 2""".stripMargin)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val fa = Future {
        sessA.sql(
          """MERGE INTO x30_target t USING x30_src s
            |ON t.l_orderkey = s.l_orderkey
            |   AND t.l_linenumber = s.l_linenumber
            |   AND t.l_returnflag = 'A'
            |WHEN MATCHED THEN UPDATE SET
            |  l_extendedprice = s.src_price + 5.0
            |WHEN NOT MATCHED THEN INSERT (l_orderkey, l_linenumber,
            |  l_extendedprice, l_returnflag)
            |  VALUES (s.l_orderkey, s.l_linenumber, s.src_price, 'A')
            |""".stripMargin)
        "merge"
      }
      val fb = Future {
        sessB.sql(
          """DELETE FROM x30_target
            |WHERE l_returnflag = 'N' AND l_extendedprice < 2000
            |""".stripMargin)
        "delete"
      }
      Await.result(fa, 10.minutes)
      Await.result(fb, 10.minutes)
      // 3 = seed + merge-upsert + delete: proves neither statement
      // aborted; the per-commit order is informative only
      val commits = Merge.commits(s, t).select("commit_ts", "partitions")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      require(commits.length == 3,
        s"expected 3 commits (seed + both racers), got ${commits.length}")
      // loud report of the serialization the claim chain picked. The
      // racers touch DISJOINT partitions (merge scopes to 'A', delete
      // to 'N'), so the recorded partition set identifies each commit
      // unambiguously — unlike n_rows, which would mislabel a delete
      // that records rewritten surviving rows
      val order = commits.drop(1)
        .map { case (c, p) =>
          val label =
            if (p.split(",").contains("A")) "merge"
            else if (p.split(",").contains("N")) "delete"
            else s"?($p)"
          s"$c=$label"
        }
        .mkString(" -> ")
      System.err.println(s"[x30] claim-chain serialization: $order")
      Merge.readTable(s, t)
        .groupBy("l_returnflag", "l_linenumber")
        .agg(count(lit(1)).as("n"),
          d(sum(dec(col("l_extendedprice")))).as("total"))
        .withColumn("n_commits", lit(commits.length.toLong))
        .orderBy("l_returnflag", "l_linenumber")
    })

  /** Serial replay: seed dedup, then both batches' per-identity
    * replacement (disjoint partitions → order-free). */
  val oracle: Map[String, String] = Map(
    "x19_concurrent_writers" ->
      """WITH seed AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |  FROM (
        |    SELECT l_orderkey, l_linenumber, l_extendedprice,
        |           l_returnflag,
        |           row_number() OVER (
        |             PARTITION BY l_orderkey, l_linenumber, l_returnflag
        |             ORDER BY l_extendedprice DESC) AS rn
        |    FROM lineitem WHERE l_linenumber <= 2) WHERE rn = 1),
        |upd AS (
        |  SELECT l_orderkey, l_linenumber,
        |         max(l_extendedprice) + 10.0 AS l_extendedprice,
        |         l_returnflag
        |  FROM lineitem
        |  WHERE l_linenumber = 2 AND l_returnflag = 'A'
        |  GROUP BY l_orderkey, l_linenumber, l_returnflag
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber,
        |         max(l_extendedprice) + 20.0 AS l_extendedprice,
        |         l_returnflag
        |  FROM lineitem
        |  WHERE l_linenumber = 2 AND l_returnflag IN ('N', 'R')
        |  GROUP BY l_orderkey, l_linenumber, l_returnflag),
        |final AS (
        |  SELECT * FROM upd
        |  UNION ALL
        |  SELECT s.* FROM seed s WHERE NOT EXISTS (
        |    SELECT 1 FROM upd u
        |    WHERE u.l_orderkey = s.l_orderkey
        |      AND u.l_linenumber = s.l_linenumber
        |      AND u.l_returnflag = s.l_returnflag))
        |SELECT l_returnflag, l_linenumber, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |    AS total,
        |  CAST(3 AS BIGINT) AS n_commits
        |FROM final
        |GROUP BY l_returnflag, l_linenumber
        |ORDER BY l_returnflag, l_linenumber""".stripMargin,

    /** Serial replay of both statements — order-free because the MERGE
      * pins partition 'A' (in its ON clause) and the DELETE pins 'N':
      * A-matched seed rows update to src_price+5, unmatched source
      * keys insert as 'A' rows, then the N-partition cheap rows drop.
      * The merge never touches N and the delete never touches A, so
      * the two serial orders produce identical tables. */
    "x30_sql_occ_race" ->
      """WITH seed AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |  FROM (
        |    SELECT l_orderkey, l_linenumber, l_extendedprice,
        |           l_returnflag,
        |           row_number() OVER (
        |             PARTITION BY l_orderkey, l_linenumber, l_returnflag
        |             ORDER BY l_extendedprice DESC) AS rn
        |    FROM lineitem WHERE l_linenumber <= 2) WHERE rn = 1),
        |src AS (
        |  SELECT l_orderkey, l_linenumber,
        |         max(l_extendedprice) AS src_price
        |  FROM lineitem
        |  WHERE l_returnflag = 'A' AND l_linenumber IN (2, 3)
        |  GROUP BY 1, 2),
        |merged AS (
        |  SELECT s.l_orderkey, s.l_linenumber,
        |         CASE WHEN s.l_returnflag = 'A'
        |                   AND src.l_orderkey IS NOT NULL
        |              THEN src.src_price + 5.0
        |              ELSE s.l_extendedprice END AS l_extendedprice,
        |         s.l_returnflag
        |  FROM seed s LEFT JOIN src
        |    ON src.l_orderkey = s.l_orderkey
        |   AND src.l_linenumber = s.l_linenumber
        |  UNION ALL
        |  SELECT src.l_orderkey, src.l_linenumber, src.src_price, 'A'
        |  FROM src WHERE NOT EXISTS (
        |    SELECT 1 FROM seed s
        |    WHERE s.l_orderkey = src.l_orderkey
        |      AND s.l_linenumber = src.l_linenumber
        |      AND s.l_returnflag = 'A')),
        |final AS (
        |  SELECT * FROM merged
        |  WHERE NOT (l_returnflag = 'N' AND l_extendedprice < 2000))
        |SELECT l_returnflag, l_linenumber, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
        |    AS total,
        |  CAST(3 AS BIGINT) AS n_commits
        |FROM final
        |GROUP BY l_returnflag, l_linenumber
        |ORDER BY l_returnflag, l_linenumber""".stripMargin)
}
