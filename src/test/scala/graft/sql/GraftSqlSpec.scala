package graft.sql

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SQL mutation surface: CREATE TABLE ... USING graft (CTAS), MERGE
  * INTO (update / conditional delete / insert), INSERT INTO — all as
  * SQL text through the session parser, verified against relational
  * replays of the same mutations. */
class GraftSqlSpec extends SparkSpec {

  private def freshTable(name: String): String = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    graft.util.Scratch.fresh(s"graft_sql_${name}_") + "/table"
  }

  private def ctas(name: String, path: String): Unit = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("li_src")
    spark.sql(
      s"""CREATE TABLE $name USING graft OPTIONS (
         |  path '$path',
         |  op 'upsert',
         |  keys 'l_orderkey,l_linenumber',
         |  precombine 'l_extendedprice',
         |  partition 'l_returnflag')
         |AS SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
         |   FROM li_src WHERE l_linenumber <= 2""".stripMargin)
  }

  /** The CTAS initial state: per-(keys, partition) precombine dedup. */
  private def tgt0: DataFrame = {
    val b = Tables.lineitem(spark, sfDir)
      .filter(col("l_linenumber") <= 2)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag")
    graft.merge.Merge.precombineDedup(b,
      Seq("l_orderkey", "l_linenumber", "l_returnflag"), "l_extendedprice")
  }

  test("CREATE TABLE USING graft (CTAS) registers a readable table") {
    ctas("sql_ctas", freshTable("sql_ctas"))
    val back = spark.sql("SELECT * FROM sql_ctas")
    assert(back.count() === tgt0.count())
    assert(back.exceptAll(tgt0).isEmpty)
  }

  test("MERGE INTO: conditional delete, update, insert — first-match-wins") {
    ctas("sql_merge", freshTable("sql_merge"))
    // source: key-deduped (cardinality rule) lnum ∈ {2, 3}: 2 matches
    // (delete-or-update), 3 inserts
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW merge_src AS
        |SELECT l_orderkey, l_linenumber,
        |       max(l_extendedprice) AS src_price,
        |       max(l_returnflag) AS src_flag
        |FROM li_src WHERE l_linenumber IN (2, 3)
        |GROUP BY 1, 2""".stripMargin)
    val res = spark.sql(
      """MERGE INTO sql_merge t USING merge_src s
        |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
        |WHEN MATCHED AND s.src_price < 2000 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET l_extendedprice = s.src_price + 1.0
        |WHEN NOT MATCHED THEN INSERT (l_orderkey, l_linenumber,
        |  l_extendedprice, l_returnflag)
        |  VALUES (s.l_orderkey, s.l_linenumber, s.src_price, s.src_flag)
        |""".stripMargin).collect()
    assert(res.length === 1 && res(0).getLong(0) > 0 && res(0).getLong(1) > 0)

    // relational replay of the same merge
    val src = spark.table("merge_src")
    val t0 = tgt0
    val joined = t0.join(src, Seq("l_orderkey", "l_linenumber"), "left")
    val kept = joined.filter(col("src_price").isNull ||
        col("src_price") >= 2000)
      .select(col("l_orderkey"), col("l_linenumber"),
        when(col("src_price").isNotNull, col("src_price") + 1.0)
          .otherwise(col("l_extendedprice")).as("l_extendedprice"),
        col("l_returnflag"))
    val inserted = src.join(t0, Seq("l_orderkey", "l_linenumber"),
        "left_anti")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("src_price").as("l_extendedprice"),
        col("src_flag").as("l_returnflag"))
    val want = kept.unionAll(inserted)
    val got = spark.sql("SELECT * FROM sql_merge")
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("MERGE INTO: cardinality violation fails loudly") {
    ctas("sql_card", freshTable("sql_card"))
    // raw lnum=2 rows: duplicate (orderkey, linenumber) pairs exist
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW card_src AS
        |SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM li_src WHERE l_linenumber = 2""".stripMargin)
    val dups = spark.table("card_src")
      .groupBy("l_orderkey", "l_linenumber").count()
      .filter(col("count") > 1).count()
    assume(dups > 0, "fixture needs duplicate keys in the source")
    val e = intercept[IllegalStateException] {
      spark.sql(
        """MERGE INTO sql_card t USING card_src s
          |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
          |WHEN MATCHED THEN UPDATE SET l_extendedprice = s.l_extendedprice
          |""".stripMargin)
    }
    assert(e.getMessage.contains("cardinality"))
  }

  test("MERGE INTO: ON clause must equality-constrain every record key") {
    ctas("sql_keys", freshTable("sql_keys"))
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW keys_src AS
        |SELECT l_orderkey, max(l_extendedprice) AS src_price
        |FROM li_src WHERE l_linenumber = 2 GROUP BY 1""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      spark.sql(
        """MERGE INTO sql_keys t USING keys_src s
          |ON t.l_orderkey = s.l_orderkey
          |WHEN MATCHED THEN UPDATE SET l_extendedprice = s.src_price
          |""".stripMargin)
    }
    assert(e.getMessage.contains("l_linenumber"))
  }

  test("UPDATE rewrites matching rows key-scoped; DELETE FROM removes them") {
    ctas("sql_upd", freshTable("sql_upd"))
    val updated = spark.sql(
      """UPDATE sql_upd SET l_extendedprice = l_extendedprice * 2
        |WHERE l_linenumber = 2 AND l_extendedprice < 3000""".stripMargin)
      .head.getLong(0)
    val t0 = tgt0
    val wantUpd = t0.filter(col("l_linenumber") === 2 &&
      col("l_extendedprice") < 3000).count()
    assert(updated === wantUpd && updated > 0)
    val afterUpdate = spark.sql("SELECT * FROM sql_upd")
    val wantAfter = t0.select(col("l_orderkey"), col("l_linenumber"),
      when(col("l_linenumber") === 2 && col("l_extendedprice") < 3000,
        col("l_extendedprice") * 2).otherwise(col("l_extendedprice"))
        .as("l_extendedprice"),
      col("l_returnflag"))
    assert(afterUpdate.count() === wantAfter.count())
    assert(afterUpdate.exceptAll(wantAfter).isEmpty)

    val deleted = spark.sql(
      "DELETE FROM sql_upd WHERE l_returnflag = 'N' AND l_linenumber = 1")
      .head.getLong(0)
    val wantDel = t0.filter(col("l_returnflag") === "N" &&
      col("l_linenumber") === 1).count()
    assert(deleted === wantDel && deleted > 0)
    assert(spark.sql(
      "SELECT count(*) FROM sql_upd WHERE l_returnflag = 'N' AND l_linenumber = 1")
      .head.getLong(0) === 0L)
    assert(spark.sql("SELECT count(*) FROM sql_upd").head.getLong(0) ===
      wantAfter.count() - wantDel)
  }

  test("UPDATE refuses to assign key or partition columns") {
    ctas("sql_updkey", freshTable("sql_updkey"))
    val e = intercept[IllegalArgumentException] {
      spark.sql("UPDATE sql_updkey SET l_linenumber = 9")
    }
    assert(e.getMessage.contains("identity"))
    val e2 = intercept[IllegalArgumentException] {
      spark.sql("UPDATE sql_updkey SET l_returnflag = 'X'")
    }
    assert(e2.getMessage.contains("identity"))
  }

  test("empty CREATE TABLE (cols) USING graft, then INSERT INTO populates it") {
    val path = freshTable("sql_empty")
    spark.sql(
      s"""CREATE TABLE sql_empty (
         |  l_orderkey BIGINT, l_linenumber INT,
         |  l_extendedprice DOUBLE, l_returnflag STRING)
         |USING graft OPTIONS (
         |  path '$path', op 'upsert',
         |  keys 'l_orderkey,l_linenumber',
         |  precombine 'l_extendedprice',
         |  partition 'l_returnflag')""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM sql_empty").head.getLong(0) === 0L)
    spark.sql(
      """INSERT INTO sql_empty
        |SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |FROM li_src WHERE l_linenumber = 1""".stripMargin)
    val want = graft.merge.Merge.precombineDedup(
      Tables.lineitem(spark, sfDir).filter(col("l_linenumber") === 1)
        .select("l_orderkey", "l_linenumber", "l_extendedprice",
          "l_returnflag"),
      Seq("l_orderkey", "l_linenumber", "l_returnflag"), "l_extendedprice")
    assert(spark.sql("SELECT count(*) FROM sql_empty").head.getLong(0) ===
      want.count())
  }

  test("INSERT INTO routes through the table's recorded upsert op") {
    val path = freshTable("sql_ins")
    ctas("sql_ins", path)
    val before = spark.sql("SELECT count(*) FROM sql_ins").head.getLong(0)
    // new keys (lnum = 3): upsert op inserts them
    spark.sql(
      """INSERT INTO sql_ins
        |SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |FROM li_src WHERE l_linenumber = 3""".stripMargin)
    val added = graft.merge.Merge.precombineDedup(
      Tables.lineitem(spark, sfDir).filter(col("l_linenumber") === 3)
        .select("l_orderkey", "l_linenumber", "l_extendedprice",
          "l_returnflag"),
      Seq("l_orderkey", "l_linenumber", "l_returnflag"), "l_extendedprice")
      .count()
    val after = spark.sql("SELECT count(*) FROM sql_ins").head.getLong(0)
    assert(after === before + added)
  }

  test("an unnamed INSERT INTO a v1 table with a timeline succeeds") {
    val path = freshTable("sql_ins_tl")
    ctas("sql_ins_tl", path)
    val c1 = graft.merge.Merge.latestCommit(spark, path)
    assert(c1.isDefined, "the CTAS recorded no commit")
    val before = spark.sql("SELECT count(*) FROM sql_ins_tl").head.getLong(0)
    // no column list: the commit stamp is not a column of the relation
    spark.sql(
      """INSERT INTO sql_ins_tl
        |SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |FROM li_src WHERE l_linenumber = 3""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM sql_ins_tl").head.getLong(0) >
      before)
    assert(graft.merge.Merge.latestCommit(spark, path).exists(_ > c1.get))
  }

  test("ALTER TABLE ADD COLUMNS: metadata-only evolution, nulls for old rows") {
    val path = freshTable("sql_alter")
    ctas("sql_alter", path)
    val filesBefore = new java.io.File(path).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).map(_.getName).toSet
    spark.sql(
      "ALTER TABLE sql_alter ADD COLUMNS (bonus DOUBLE, tag STRING)")
    // catalog sees the new columns — slotted before the partition
    // column, which Spark's parquet read always resolves last
    val catCols = spark.table("sql_alter").columns.toSeq
    assert(catCols.takeRight(3) === Seq("bonus", "tag", "l_returnflag"))
    // pre-evolution rows read them as null; no data file was touched
    assert(spark.sql(
      "SELECT count(*) FROM sql_alter WHERE bonus IS NOT NULL OR tag IS NOT NULL")
      .head.getLong(0) === 0)
    val filesAfter = new java.io.File(path).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).map(_.getName).toSet
    assert(filesAfter === filesBefore, "ALTER must not rewrite data files")
    // post-evolution insert carries values; old rows stay null
    spark.sql(
      """INSERT INTO sql_alter
        |SELECT l_orderkey, l_linenumber, l_extendedprice,
        |       l_discount, 'v2', l_returnflag
        |FROM li_src WHERE l_linenumber = 3""".stripMargin)
    val withTag = spark.sql(
      "SELECT count(*) FROM sql_alter WHERE tag = 'v2'").head.getLong(0)
    assert(withTag > 0)
    assert(spark.sql(
      """SELECT count(*) FROM sql_alter
        |WHERE l_linenumber <= 2 AND tag IS NOT NULL""".stripMargin)
      .head.getLong(0) === 0)
  }

  test("VERSION AS OF resolves the graft as-of snapshot in SQL") {
    val path = freshTable("sql_tt")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("li_src")
    spark.sql(
      s"""CREATE TABLE sql_tt USING graft OPTIONS (
         |  path '$path',
         |  op 'upsert',
         |  keys 'l_orderkey,l_linenumber',
         |  precombine 'l_extendedprice',
         |  partition 'l_returnflag',
         |  versioned 'true')
         |AS SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
         |   FROM li_src WHERE l_linenumber = 1""".stripMargin)
    val c1 = graft.merge.Merge.commits(spark, path)
      .agg(max(col("commit_ts"))).head.getLong(0)
    val n1 = spark.sql("SELECT count(*) FROM sql_tt").head.getLong(0)
    // the engine stamps _commit_ts (Hudi's _hoodie_commit_time
    // analogue) with the real commit id
    spark.sql(
      """INSERT INTO sql_tt
        |  (l_orderkey, l_linenumber, l_extendedprice, l_returnflag)
        |SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |FROM li_src WHERE l_linenumber = 2""".stripMargin)
    // the stamp is the engine's, not a null placeholder (read through
    // graft_snapshot: the v1 relation serves user columns only)
    assert(spark.sql(
      s"SELECT count(*) FROM graft_snapshot('$path') WHERE _commit_ts IS NULL")
      .head.getLong(0) === 0)
    val nNow = spark.sql("SELECT count(*) FROM sql_tt").head.getLong(0)
    assert(nNow > n1)
    // the as-of read sees the pre-insert state; current sees both
    assert(spark.sql(s"SELECT count(*) FROM sql_tt VERSION AS OF $c1")
      .head.getLong(0) === n1)
    // projections/filters still push through the time-travel relation
    val flags = spark.sql(
      s"""SELECT l_returnflag, count(*) AS n
         |FROM sql_tt VERSION AS OF $c1
         |WHERE l_linenumber = 1 GROUP BY 1""".stripMargin).count()
    assert(flags > 0)
    // TIMESTAMP AS OF: c1's recorded instant sees the pre-insert
    // state; now() sees everything; pre-history instants refuse loudly
    val w1 = graft.merge.Merge.commitWallClock(spark, path, c1).get
    val w2 = graft.merge.Merge.commitWallClock(spark, path,
      graft.merge.Merge.commits(spark, path)
        .agg(max(col("commit_ts"))).head.getLong(0)).get
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
    if (w1 < w2) { // distinct-ms guard, same honesty as the x29 key
      assert(spark.sql(
        s"SELECT count(*) FROM sql_tt TIMESTAMP AS OF " +
          s"'${fmt.format(java.time.Instant.ofEpochMilli(w1))}'")
        .head.getLong(0) === n1)
    }
    assert(spark.sql(
      s"SELECT count(*) FROM sql_tt TIMESTAMP AS OF " +
        s"'${fmt.format(java.time.Instant.ofEpochMilli(w2 + 60000L))}'")
      .head.getLong(0) === nNow)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM sql_tt TIMESTAMP AS OF '1999-01-01'")
        .collect()
    }
    assert(e.getMessage.contains("no commit"))
    // an unreadable instant refuses with a clear message (the ANSI
    // cast's own CAST_INVALID_INPUT — raised at resolution, not midway
    // through a job)
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM sql_tt TIMESTAMP AS OF 'not a time'")
        .collect()
    }
    assert(e2.getMessage.toLowerCase.contains("timestamp"))
  }

  test("graft_commits table function serves the timeline through SQL") {
    val path = freshTable("sql_tvf")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("li_src")
    spark.sql(
      s"""CREATE TABLE sql_tvf USING graft OPTIONS (
         |  path '$path',
         |  op 'upsert',
         |  keys 'l_orderkey,l_linenumber',
         |  precombine 'l_extendedprice',
         |  partition 'l_returnflag',
         |  versioned 'true')
         |AS SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
         |   FROM li_src WHERE l_linenumber = 1""".stripMargin)
    spark.sql(
      """INSERT INTO sql_tvf
        |  (l_orderkey, l_linenumber, l_extendedprice, l_returnflag)
        |SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |FROM li_src WHERE l_linenumber = 2""".stripMargin)
    val viaSql = spark.sql(
      s"SELECT * FROM graft_commits('$path') ORDER BY commit_ts").collect()
    val viaApi = graft.merge.Merge.commits(spark, path)
      .orderBy("commit_ts").collect()
    assert(viaSql.toSeq === viaApi.toSeq)
    assert(viaSql.length === 2)
    // a non-literal argument fails loudly, not silently
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_commits(1 + 1)").collect()
    }
    assert(e.getMessage.contains("string literal"))
  }

  test("graft_compact procedure: fewer files, same content, honest " +
      "stats row, idempotent re-run") {
    import spark.implicits._
    val path = freshTable("sql_compact")
    // many small files: per-row upsert commits
    val rows = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 37 === 1)
      .select((col("o_orderkey") % 500).as("okey"),
        col("o_totalprice").as("price"), col("o_orderkey").as("pre"),
        col("o_orderstatus").as("part"))
    (0 until 4).foreach { b =>
      graft.merge.Merge.upsert(spark, rows.filter($"pre" % 4 === b),
        path, Seq("okey"), "pre", "part")
    }
    val before = graft.merge.Merge.readTable(spark, path)
    val filesBefore = before.inputFiles.length
    val content = before.select("okey", "price", "pre", "part")
      .collect().map(_.toString).sorted.toSeq
    val stats = spark.sql(
      s"SELECT * FROM graft_compact('$path')").collect()
    assert(stats.length === 1)
    val compacted = stats.head.getAs[Long]("compacted_files")
    val after = stats.head.getAs[Long]("files_after")
    assert(compacted > 0L, "nothing compacted — dead assert")
    assert(after < filesBefore.toLong, s"$after !< $filesBefore")
    assert(graft.merge.Merge.readTable(spark, path).inputFiles.length
      .toLong === after, "stats row must report the real file count")
    // content-invariant (the q23 law, through the SQL surface)
    assert(graft.merge.Merge.readTable(spark, path)
      .select("okey", "price", "pre", "part")
      .collect().map(_.toString).sorted.toSeq === content)
    // a second run finds no small-file candidates
    val again = spark.sql(
      s"SELECT * FROM graft_compact('$path')").collect().head
    assert(again.getAs[Long]("compacted_files") === 0L)
    // a table with no recorded key spec fails loudly
    val bare = tmpDir("graft_sqlcompact_bare_")
    Seq((1L, "A")).toDF("k", "part").write.mode("overwrite").parquet(bare)
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_compact('$bare')").collect()
    }
    assert(e.getMessage.contains("key spec"), e.getMessage)
  }

  test("EXPLAIN over a maintenance procedure leaves the table " +
      "untouched: the rewrite runs at execution, not resolution") {
    import spark.implicits._
    val path = freshTable("sql_explain_compact")
    val rows = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 37 === 2)
      .select((col("o_orderkey") % 500).as("okey"),
        col("o_totalprice").as("price"), col("o_orderkey").as("pre"),
        col("o_orderstatus").as("part"))
    (0 until 3).foreach { b =>
      graft.merge.Merge.upsert(spark, rows.filter($"pre" % 3 === b),
        path, Seq("okey"), "pre", "part")
    }
    val filesBefore = graft.merge.Merge.readTable(spark, path)
      .inputFiles.sorted.toSeq
    // EXPLAIN analyzes under CommandExecutionMode.SKIP — the command
    // node must appear in the plan text without having run
    val plan = spark.sql(
      s"EXPLAIN SELECT * FROM graft_compact('$path')")
      .collect().head.getString(0)
    assert(plan.contains("GraftCompact"), plan)
    assert(graft.merge.Merge.readTable(spark, path)
      .inputFiles.sorted.toSeq === filesBefore,
      "EXPLAIN must not rewrite the table layout")
    // the real SELECT then compacts as before
    val stats = spark.sql(
      s"SELECT * FROM graft_compact('$path')").collect().head
    assert(stats.getAs[Long]("compacted_files") > 0L)
    assert(graft.merge.Merge.readTable(spark, path)
      .inputFiles.length < filesBefore.size)
  }

  test("graft_clean procedure: history swept past the retention " +
      "window, current state untouched, honest stats, idempotent") {
    import spark.implicits._
    val path = freshTable("sql_clean")
    // okey % 20: batches MUST overlap on keys so later commits rewrite
    // files and leave reconstruction history for clean to sweep (a
    // sparse key space would make every commit disjoint — no history,
    // dead test)
    val rows = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 37 === 3)
      .select((col("o_orderkey") % 20).as("okey"),
        col("o_totalprice").as("price"), col("o_orderkey").as("pre"),
        col("o_orderstatus").as("part"))
    (0 until 3).foreach { b =>
      graft.merge.Merge.upsert(spark,
        rows.filter($"pre" % 3 === b), path, Seq("okey"), "pre", "part")
    }
    val content = graft.merge.Merge.readTable(spark, path)
      .select("okey", "price", "pre", "part")
      .collect().map(_.toString).sorted.toSeq
    val stats = spark.sql(
      s"SELECT * FROM graft_clean('$path', 1)").collect().head
    assert(stats.getAs[Long]("removed_snapshots") > 0L,
      "nothing swept — dead assert")
    assert(stats.getAs[Long]("commits_remaining") === 3L,
      "clean sweeps reconstruction history, never the commit records")
    assert(graft.merge.Merge.readTable(spark, path)
      .select("okey", "price", "pre", "part")
      .collect().map(_.toString).sorted.toSeq === content)
    // the floor only rises: a re-run sweeps nothing further
    val again = spark.sql(
      s"SELECT * FROM graft_clean('$path', 1)").collect().head
    assert(again.getAs[Long]("removed_snapshots") === 0L)
  }

  test("graft_zorder procedure: layout rewritten, content invariant, " +
      "honest stats row") {
    val path = freshTable("sql_zorder")
    val rows = Tables.lineitem(spark, sfDir).select(
      col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"),
      col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
      col("l_quantity").as("qty"), col("l_returnflag").as("part"))
    graft.merge.Merge.bulkInsert(rows, path, "part",
      keyCols = Seq("pk", "sk"), targetFileBytes = 256L << 10)
    val content = graft.merge.Merge.readTable(spark, path)
      .select("okey", "lnum", "pk", "sk", "qty", "part")
      .collect().map(_.toString).sorted.toSeq
    val stats = spark.sql(
      s"SELECT * FROM graft_zorder('$path', 'pk,sk', ${256L << 10})")
      .collect().head
    assert(stats.getAs[Long]("clustered_files") > 0L)
    assert(stats.getAs[Long]("files_after") ===
      graft.merge.Merge.readTable(spark, path).inputFiles.length.toLong)
    assert(graft.merge.Merge.readTable(spark, path)
      .select("okey", "lnum", "pk", "sk", "qty", "part")
      .collect().map(_.toString).sorted.toSeq === content)
    // an empty column list is a loud argument error
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_zorder('$path', '')").collect()
    }
    assert(e.getMessage.contains("z-order"), e.getMessage)
  }

  test("graft_vacuum procedure: leaked staging sibling swept, table " +
      "untouched, EXPLAIN sweeps nothing, idempotent") {
    import spark.implicits._
    val path = freshTable("sql_vacuum")
    val rows = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 37 === 5)
      .select((col("o_orderkey") % 40).as("okey"),
        col("o_totalprice").as("price"), col("o_orderkey").as("pre"),
        col("o_orderstatus").as("part"))
    (0 until 2).foreach { b =>
      graft.merge.Merge.upsert(spark, rows.filter($"pre" % 2 === b),
        path, Seq("okey"), "pre", "part")
    }
    val content = graft.merge.Merge.readTable(spark, path)
      .select("okey", "price", "pre", "part")
      .collect().map(_.toString).sorted.toSeq
    // manufacture the leak a crashed commit leaves: a recovery-copy
    // sibling next to the table
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sessionState.newHadoopConf())
    val t = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    val leaked = new org.apache.hadoop.fs.Path(
      t.getParent, s"${t.getName}_staging_1234")
    fs.mkdirs(leaked)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(leaked, "part-junk.parquet"))
    out.write("leak".getBytes); out.close()
    // EXPLAIN analyzes under CommandExecutionMode.SKIP: no sweep
    val plan = spark.sql(s"EXPLAIN SELECT * FROM graft_vacuum('$path')")
      .collect().head.getString(0)
    assert(plan.contains("GraftVacuum"), plan)
    assert(fs.exists(leaked), "EXPLAIN must not sweep the staging dir")
    val stats = spark.sql(
      s"SELECT * FROM graft_vacuum('$path')").collect().head
    assert(stats.getAs[Long]("removed_staging") === 1L)
    assert(!fs.exists(leaked), "the leaked staging dir must be gone")
    assert(graft.merge.Merge.readTable(spark, path)
      .select("okey", "price", "pre", "part")
      .collect().map(_.toString).sorted.toSeq === content,
      "vacuum must not touch the table itself")
    val again = spark.sql(
      s"SELECT * FROM graft_vacuum('$path')").collect().head
    assert(again.getAs[Long]("removed_staging") === 0L)
  }

  test("graft_savepoint pins the floor through graft_clean; " +
      "graft_savepoints lists the pin; unrecorded commits refused") {
    import spark.implicits._
    val path = freshTable("sql_savepoint")
    // okey % 20 so batches overlap and later commits leave history
    val rows = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 37 === 7)
      .select((col("o_orderkey") % 20).as("okey"),
        col("o_totalprice").as("price"), col("o_orderkey").as("pre"),
        col("o_orderstatus").as("part"))
    val c1 = graft.merge.Merge.upsert(spark,
      rows.filter($"pre" % 3 === 0), path, Seq("okey"), "pre", "part")
    val asOfC1 = graft.merge.Merge.readAsOf(spark, path, c1)
      .select("okey", "price", "pre", "part")
      .collect().map(_.toString).sorted.toSeq
    (1 until 3).foreach { b =>
      graft.merge.Merge.upsert(spark,
        rows.filter($"pre" % 3 === b), path, Seq("okey"), "pre", "part")
    }
    val stats = spark.sql(
      s"SELECT * FROM graft_savepoint('$path', $c1)").collect().head
    assert(stats.getAs[Long]("pinned_commit") === c1)
    assert(stats.getAs[Long]("savepoints_total") === 1L)
    assert(spark.sql(s"SELECT * FROM graft_savepoints('$path')")
      .collect().map(_.getLong(0)).toSeq === Seq(c1))
    // retention=1 would sweep c1's snapshot — the pin must cap the floor
    spark.sql(s"SELECT * FROM graft_clean('$path', 1)").collect()
    assert(graft.merge.Merge.readAsOf(spark, path, c1)
      .select("okey", "price", "pre", "part")
      .collect().map(_.toString).sorted.toSeq === asOfC1,
      "the pinned snapshot must stay serviceable through clean")
    // a commit id that was never recorded is a loud error
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_savepoint('$path', 999999)").collect()
    }
    assert(e.getMessage.contains("not recorded"), e.getMessage)
  }

  test("graft_restore procedure: physical revert at execution only " +
      "(EXPLAIN leaves the timeline), honest stats, idempotent") {
    import spark.implicits._
    val path = freshTable("sql_restore")
    val rows = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 37 === 9)
      .select((col("o_orderkey") % 20).as("okey"),
        col("o_totalprice").as("price"), col("o_orderkey").as("pre"),
        col("o_orderstatus").as("part"))
    val c1 = graft.merge.Merge.upsert(spark,
      rows.filter($"pre" % 3 === 0), path, Seq("okey"), "pre", "part")
    val asOfC1 = graft.merge.Merge.readAsOf(spark, path, c1)
      .select("okey", "price", "pre", "part")
      .collect().map(_.toString).sorted.toSeq
    (1 until 3).foreach { b =>
      graft.merge.Merge.upsert(spark,
        rows.filter($"pre" % 3 === b), path, Seq("okey"), "pre", "part")
    }
    val commitsBefore = graft.merge.Merge.commits(spark, path).count()
    val plan = spark.sql(
      s"EXPLAIN SELECT * FROM graft_restore('$path', $c1)")
      .collect().head.getString(0)
    assert(plan.contains("GraftRestore"), plan)
    assert(graft.merge.Merge.commits(spark, path).count() === commitsBefore,
      "EXPLAIN must not revert the table")
    val stats = spark.sql(
      s"SELECT * FROM graft_restore('$path', $c1)").collect().head
    assert(stats.getAs[Long]("restored_to") === c1)
    assert(stats.getAs[Long]("commits_remaining") === 1L)
    assert(graft.merge.Merge.readTable(spark, path)
      .select("okey", "price", "pre", "part")
      .collect().map(_.toString).sorted.toSeq === asOfC1,
      "the restored table IS the as-of snapshot, read plainly")
    // re-running reverts nothing further (no commits past the target)
    val again = spark.sql(
      s"SELECT * FROM graft_restore('$path', $c1)").collect().head
    assert(again.getAs[Long]("commits_remaining") === 1L)
    assert(graft.merge.Merge.readTable(spark, path)
      .select("okey", "price", "pre", "part")
      .collect().map(_.toString).sorted.toSeq === asOfC1)
  }

  test("graft_snapshot reads current and as-of state from SQL without " +
      "catalog registration; graft_files lists the live layout") {
    import spark.implicits._
    val path = freshTable("sql_snapshot")
    val rows = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 37 === 11)
      .select((col("o_orderkey") % 20).as("okey"),
        col("o_totalprice").as("price"), col("o_orderkey").as("pre"),
        col("o_orderstatus").as("part"))
    val c1 = graft.merge.Merge.upsert(spark,
      rows.filter($"pre" % 2 === 0), path, Seq("okey"), "pre", "part")
    graft.merge.Merge.upsert(spark,
      rows.filter($"pre" % 2 === 1), path, Seq("okey"), "pre", "part")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("okey", "price", "pre", "part")
        .collect().map(_.toString).sorted.toSeq
    assert(canon(spark.sql(s"SELECT * FROM graft_snapshot('$path')")) ===
      canon(graft.merge.Merge.readTable(spark, path)))
    assert(canon(spark.sql(
      s"SELECT * FROM graft_snapshot('$path', $c1)")) ===
      canon(graft.merge.Merge.readAsOf(spark, path, c1)),
      "the two-arg form is the as-of snapshot")
    // the file listing matches the live layout: same count, relative
    // paths, honest sizes
    val files = spark.sql(s"SELECT * FROM graft_files('$path')")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(files.length ===
      graft.merge.Merge.readTable(spark, path).inputFiles.length)
    assert(files.forall { case (f, b) => !f.startsWith("/") && b > 0L },
      files.mkString(", "))
    // arity errors are loud
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_files('a', 'b')").collect()
    }
    assert(e.getMessage.contains("graft_files"), e.getMessage)
  }

  test("graft_count: exact count(*) from footer metadata, correct " +
      "through rewrites, both footer-read arms agree") {
    import spark.implicits._
    val path = freshTable("sql_count")
    val rows = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 37 === 13)
      .select((col("o_orderkey") % 40).as("okey"),
        col("o_totalprice").as("price"), col("o_orderkey").as("pre"),
        col("o_orderstatus").as("part"))
    graft.merge.Merge.upsert(spark, rows.filter($"pre" % 2 === 0),
      path, Seq("okey"), "pre", "part")
    graft.merge.Merge.upsert(spark, rows.filter($"pre" % 2 === 1),
      path, Seq("okey"), "pre", "part")
    def sqlCount(): (Long, Long) = {
      val r = spark.sql(s"SELECT * FROM graft_count('$path')")
        .collect().head
      (r.getAs[Long]("n_rows"), r.getAs[Long]("n_files"))
    }
    val exact = graft.merge.Merge.readTable(spark, path).count()
    val (n1, f1) = sqlCount()
    assert(n1 === exact)
    assert(f1 ===
      graft.merge.Merge.readTable(spark, path).inputFiles.length.toLong)
    // a delete REWRITES files: the footer sum must track the live rows
    graft.merge.Merge.delete(spark,
      rows.filter($"pre" % 4 === 1).select("okey", "part"),
      path, Seq("okey"), "part")
    val exactAfter = graft.merge.Merge.readTable(spark, path).count()
    assert(exactAfter < exact, "delete must remove rows — dead test")
    assert(sqlCount()._1 === exactAfter)
    // the distributed footer arm returns the identical answer
    val prev = graft.merge.StatsPruning.distributeFooterReadsAbove
    graft.merge.StatsPruning.distributeFooterReadsAbove = 0
    try assert(sqlCount()._1 === exactAfter)
    finally graft.merge.StatsPruning.distributeFooterReadsAbove = prev
  }

  test("ALTER TABLE ADD COLUMNS refuses a duplicate column") {
    val path = freshTable("sql_alter_dup")
    ctas("sql_alter_dup", path)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE sql_alter_dup ADD COLUMNS (l_returnflag STRING)")
    }
    assert(e.getMessage.toLowerCase.contains("already exists"))
  }

  test("graft_stats: exact per-column stats from footer metadata — " +
      "nulls counted, bounds exact, partition column from dir values, " +
      "both footer arms agree") {
    val path = freshTable("sql_stats")
    val rows = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 13 === 2)
      .select(col("o_orderkey").as("okey"),
        when(col("o_orderkey") % 5 === 2, lit(null).cast("long"))
          .otherwise(col("o_custkey")).as("ck"),
        col("o_orderpriority").as("clerk"),
        col("o_orderstatus").as("part"))
    graft.merge.Merge.bulkInsert(rows, path, "part",
      keyCols = Seq("okey"), targetFileBytes = 1L << 18)
    def statsOf(): Map[String, org.apache.spark.sql.Row] =
      spark.sql(s"SELECT * FROM graft_stats('$path', 'okey,ck,clerk,part')")
        .collect().map(r => r.getString(0) -> r).toMap
    val exact = rows.agg(
      count(lit(1)), count(col("ck")),
      min("okey"), max("okey"), min("ck"), max("ck"),
      min("clerk"), max("clerk"), min("part"), max("part")).head()
    val n = exact.getLong(0)
    val s = statsOf()
    assert(s.keySet === Set("okey", "ck", "clerk", "part"))
    for (c <- Seq("okey", "ck", "clerk", "part")) {
      assert(s(c).getLong(1) === n, s"$c n_rows")
      assert(s(c).getBoolean(5), s"$c exact")
    }
    assert(s("okey").getLong(2) === 0L)
    assert(s("ck").getLong(2) === n - exact.getLong(1), "injected nulls")
    assert(s("clerk").getLong(2) === 0L)
    assert(s("part").getLong(2) === 0L)
    assert(s("okey").getString(3) === exact.getLong(2).toString)
    assert(s("okey").getString(4) === exact.getLong(3).toString)
    assert(s("ck").getString(3) === exact.getLong(4).toString)
    assert(s("ck").getString(4) === exact.getLong(5).toString)
    assert(s("clerk").getString(3) === exact.getString(6))
    assert(s("clerk").getString(4) === exact.getString(7))
    // partition bounds come from DIRECTORY values, not footers
    assert(s("part").getString(3) === exact.getString(8))
    assert(s("part").getString(4) === exact.getString(9))
    // the distributed footer arm returns the identical rows
    val prev = graft.merge.StatsPruning.distributeFooterReadsAbove
    graft.merge.StatsPruning.distributeFooterReadsAbove = 0
    try assert(statsOf().map(_._2.toString).toSeq.sorted ===
      s.map(_._2.toString).toSeq.sorted)
    finally graft.merge.StatsPruning.distributeFooterReadsAbove = prev
  }

  test("graft_stats: schema-evolution absent column counts as all-null " +
      "in pre-evolution files; unusable stats refuse exactness; unknown " +
      "column is loud") {
    import spark.implicits._
    val path = freshTable("sql_stats_evo")
    val b1 = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 17 === 3)
      .select(col("o_orderkey").as("okey"),
        col("o_totalprice").as("price"), col("o_orderkey").as("pre"),
        lit("A").as("part"))
    graft.merge.Merge.upsert(spark, b1, path, Seq("okey"), "pre", "part")
    val n1 = b1.count()
    // batch 2 lands in a DIFFERENT partition with a NEW column — the
    // batch-1 files are untouched, so `score` is absent from their
    // schema and reads back null there
    val b2 = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 17 === 5)
      .select(col("o_orderkey").as("okey"),
        col("o_totalprice").as("price"), col("o_orderkey").as("pre"),
        lit("B").as("part"), (col("o_orderkey") % 100).as("score"))
    graft.merge.Merge.upsert(spark, b2, path, Seq("okey"), "pre", "part")
    val n2 = b2.count()
    val r = spark.sql(s"SELECT * FROM graft_stats('$path', 'score')")
      .collect().head
    assert(r.getLong(1) === n1 + n2)
    assert(r.getLong(2) === n1, "pre-evolution rows read back null")
    assert(r.getBoolean(5))
    assert(r.getString(3) === b2.agg(min("score")).head().getLong(0).toString)
    // a decimal column's footer stats are outside the comparison
    // domains: the row must refuse exactness, not guess
    val pathD = freshTable("sql_stats_dec")
    val dec = Seq((1L, BigDecimal("1.50"), "A"), (2L, BigDecimal("2.25"), "A"))
      .toDF("okey", "amt", "part")
      .withColumn("amt", col("amt").cast("decimal(10,2)"))
    graft.merge.Merge.bulkInsert(dec, pathD, "part", keyCols = Seq("okey"),
      targetFileBytes = 1L << 18)
    val rd = spark.sql(s"SELECT * FROM graft_stats('$pathD', 'amt')")
      .collect().head
    assert(!rd.getBoolean(5))
    assert(rd.isNullAt(2) && rd.isNullAt(3) && rd.isNullAt(4))
    assert(rd.getLong(1) === 2L, "row count stays exact")
    // unknown column: loud, names the offender
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_stats('$path', 'nope')").collect()
    }
    assert(e.getMessage.contains("nope"), e.getMessage)
  }

  test("graft_fsck: healthy table all-ok; seeded staging leak, inflight " +
      "residue, timeline junk, and dangling savepoint each surface as " +
      "warn; MOR residue detected; strictly read-only") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val path = freshTable("sql_fsck")
    val rows = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 31 === 4)
      .select(col("o_orderkey").as("okey"),
        col("o_totalprice").as("price"), col("o_orderkey").as("pre"),
        col("o_orderstatus").as("part"))
    graft.merge.Merge.upsert(spark, rows, path, Seq("okey"),
      "pre", "part")
    def report(): Map[String, (String, String)] =
      spark.sql(s"SELECT * FROM graft_fsck('$path')").collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getString(2))))
        .toMap
    val healthy = report()
    assert(healthy.values.forall(_._1 == "ok"), healthy)
    assert(healthy("footer_row_count")._2 ===
      s"rows=${graft.merge.Merge.readTable(spark, path).count()}")
    // seed: a staging leak, an inflight marker, timeline junk, and a
    // dangling savepoint pin
    val t = new Path(path.stripSuffix("/"))
    val fs = t.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(t.getParent, s"${t.getName}_staging_7"))
    fs.create(new Path(path, "_graft_commits/00000000000000000099.inflight"),
      true).close()
    fs.create(new Path(path, "_graft_commits/notes.txt"), true).close()
    fs.create(new Path(path, "_graft_history/_savepoint_777"), true).close()
    val content = graft.merge.Merge.readTable(spark, path)
      .orderBy("okey").collect().map(_.toSeq).toSeq
    val r2 = report()
    assert(r2("staging") === (("warn", "leaks=1")), r2)
    assert(r2("commit_timeline")._1 === "warn")
    assert(r2("commit_timeline")._2.contains("inflight=1") &&
      r2("commit_timeline")._2.contains("foreign=1"), r2)
    assert(r2("savepoints") === (("warn", "pinned=1 unrecorded=1")), r2)
    // read-only: a second report is identical and content is untouched
    assert(report() === r2)
    assert(graft.merge.Merge.readTable(spark, path)
      .orderBy("okey").collect().map(_.toSeq).toSeq === content)
    // MOR residue: live deltas skip the footer check; an unrecorded
    // delta id (crash residue) warns
    val mor = freshTable("sql_fsck_mor")
    graft.merge.MorTable.upsert(spark, rows.filter($"pre" % 2 === 0),
      mor, Seq("okey"), "pre", Seq("part"))
    graft.merge.MorTable.upsert(spark, rows.filter($"pre" % 2 === 1),
      mor, Seq("okey"), "pre", Seq("part"))
    def morReport(): Map[String, (String, String)] =
      spark.sql(s"SELECT * FROM graft_fsck('$mor')").collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getString(2))))
        .toMap
    val m1 = morReport()
    assert(m1("footer_row_count")._1 === "skip", m1)
    assert(m1("mor_deltas")._1 === "ok", m1)
    // unrecorded residue: tombstone a recorded delta commit's entry
    val mfs = new Path(mor)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deltaEntry = mfs.listStatus(new Path(mor, "_graft_commits"))
      .map(_.getPath).filter(_.getName.endsWith(".json")).maxBy(_.getName)
    mfs.rename(deltaEntry, new Path(deltaEntry.getParent,
      deltaEntry.getName.stripSuffix(".json") + ".rolledback"))
    val m2 = morReport()
    assert(m2("mor_deltas")._1 === "warn", m2)
    assert(m2("mor_deltas")._2.contains("unrecorded=1"), m2)
  }

  test("graft_ann_topk/graft_ann_drift: SQL serving agrees with the " +
      "DataFrame twins on both layouts, EXPLAIN runs no probe job, " +
      "arity errors are loud") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sfDir)
    val corpus = emb.filter($"vec_id" >= 5)
    val queries = emb.filter($"vec_id" < 5)
    val qDir = graft.util.Scratch.fresh("graft_annq_spec_")
    queries.coalesce(1).write.mode("overwrite").parquet(qDir + "/q")
    val ivf = graft.util.Scratch.fresh("graft_x44_spec_")
    graft.similarity.Similarity.buildIvfIndex(corpus, ivf,
      nCentroids = 10, maxTrainVectors = 256)
    val pq = graft.util.Scratch.fresh("graft_x45_spec_")
    graft.similarity.Similarity.buildIvfPqIndex(corpus, pq,
      nCentroids = 10, subspaces = 4, codebook = 16,
      maxTrainVectors = 256)
    def viaSql(idx: String) = spark.sql(
      s"SELECT * FROM graft_ann_topk('$idx', '$qDir/q', 10, 4)")
      .collect().map(_.toSeq).toSeq
    assert(viaSql(ivf) === graft.similarity.Similarity
      .ivfTopKServed(spark, ivf, queries, 10, 4)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq)
    // the SAME function serves the compound layout (auto-detected)
    assert(viaSql(pq) === graft.similarity.Similarity
      .ivfPqTopKServed(spark, pq, queries, 10, 4)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq)
    assert(spark.sql(s"SELECT * FROM graft_ann_drift('$pq')")
      .collect().map(_.toSeq).toSeq ===
      graft.similarity.Similarity.ivfPqDriftStats(spark, pq)
        .collect().map(_.toSeq).toSeq)
    // command nodes: EXPLAIN must not run the probe/means jobs
    val jobs = jobsOf {
      spark.sql(s"EXPLAIN SELECT * FROM graft_ann_topk('$ivf', " +
        s"'$qDir/q', 10, 4)").collect()
      spark.sql(s"EXPLAIN SELECT * FROM graft_ann_drift('$ivf')")
        .collect()
    }
    assert(jobs === 0, "EXPLAIN over the ANN surface ran a job")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_ann_topk('$ivf', 10)").collect()
    }
    assert(e.getMessage.contains("graft_ann_topk"), e.getMessage)
  }

  test("graft_stats on a bare hive dir (no key spec): partition column " +
      "answers from dir segments, null sentinel counts as nulls not a " +
      "literal bound") {
    import spark.implicits._
    val dir = freshTable("sql_stats_bare")
    // a plain partitioned write — NO graft key spec recorded
    Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, null.asInstanceOf[String]),
      (5L, null.asInstanceOf[String]))
      .toDF("okey", "part")
      .write.partitionBy("part").parquet(dir)
    val r = spark.sql(s"SELECT * FROM graft_stats('$dir', 'part,okey')")
      .collect().map(x => x.getString(0) -> x).toMap
    // the partition column: derived from k=v segments (pre-fix it was
    // treated as a data column absent from every footer — reported as
    // 100% null with exact=true, confidently wrong)
    assert(r("part").getLong(1) === 5L)
    assert(r("part").getLong(2) === 2L,
      "__HIVE_DEFAULT_PARTITION__ rows must count as nulls")
    assert(r("part").getString(3) === "A" && r("part").getString(4) === "B",
      "the null sentinel must never surface as a string bound")
    assert(r("part").getBoolean(5))
    // data columns still answer from footers
    assert(r("okey").getLong(1) === 5L && r("okey").getLong(2) === 0L)
    assert(r("okey").getString(3) === "1" && r("okey").getString(4) === "5")
  }

  test("graft_dup_spans/graft_gopher_rules: the curation surface from " +
      "SQL — agrees with the DataFrame API, honors column-name args, " +
      "EXPLAIN runs no job, arity errors are loud") {
    import spark.implicits._
    val dir = freshTable("sql_curation")
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "solo unique words nothing shared anywhere at all here now"))
      .toDF("doc_id", "text").write.parquet(dir)
    val viaSql = spark.sql(
      s"SELECT * FROM graft_dup_spans('$dir', 8) ORDER BY doc_id")
    val viaApi = graft.dedup.Dedup.dupSpans(
      spark.read.parquet(dir), "doc_id", "text", n = 8).orderBy("doc_id")
    assert(viaSql.collect().toSeq === viaApi.collect().toSeq)
    val gSql = spark.sql(
      s"SELECT * FROM graft_gopher_rules('$dir') ORDER BY doc_id")
    val gApi = graft.text.TextAnalysis.gopherRules(
      spark.read.parquet(dir), "doc_id", "text").orderBy("doc_id")
    assert(gSql.collect().toSeq === gApi.collect().toSeq)
    // renamed columns reach the same relation through the name args
    val dir2 = freshTable("sql_curation2")
    spark.read.parquet(dir)
      .select($"doc_id".as("id"), $"text".as("body"))
      .write.parquet(dir2)
    val renamed = spark.sql(s"SELECT * FROM graft_dup_spans('$dir2', 8, " +
      "'id', 'body') ORDER BY id")
    assert(renamed.collect().map(_.toSeq.drop(1)).toSeq ===
      viaApi.collect().map(_.toSeq.drop(1)).toSeq)
    // the plan is LAZY at resolution: EXPLAIN pays at most parquet
    // schema inference (one bounded metadata job per statement, the
    // same price graft_snapshot resolution pays) — never the
    // corpus-sized gram shuffle, whose stages only run at execution
    val jobs = jobsOf {
      spark.sql(s"EXPLAIN SELECT * FROM graft_dup_spans('$dir')").collect()
      spark.sql(s"EXPLAIN SELECT * FROM graft_gopher_rules('$dir')")
        .collect()
    }
    assert(jobs <= 2,
      s"EXPLAIN ran $jobs jobs — more than schema inference")
    val executed = jobsOf(
      spark.sql(s"SELECT * FROM graft_dup_spans('$dir')").collect())
    assert(executed > 0, "execution never ran the span stages")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_dup_spans('$dir', 8, 'id')")
        .collect()
    }
    assert(e.getMessage.contains("graft_dup_spans"), e.getMessage)
    // graft_decon_report: same-relation law vs the DataFrame API,
    // honoring the column-name args on the renamed copy
    val dApi = graft.dedup.Dedup.contaminationReport(
      spark.read.parquet(dir).filter($"doc_id" >= 2),
      spark.read.parquet(dir).filter($"doc_id" < 2), "doc_id", "text")
      .orderBy("id").collect().toSeq
    spark.read.parquet(dir).filter($"doc_id" >= 2)
      .select($"doc_id".as("id"), $"text".as("body"))
      .write.parquet(dir2 + "_c")
    spark.read.parquet(dir).filter($"doc_id" < 2)
      .select($"doc_id".as("id"), $"text".as("body"))
      .write.parquet(dir2 + "_e")
    assert(spark.sql(s"SELECT * FROM graft_decon_report('${dir2}_c', " +
      s"'${dir2}_e', 'id', 'body') ORDER BY id").collect().toSeq === dApi)
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_decon_report('$dir')").collect()
    }
    assert(e2.getMessage.contains("graft_decon_report"), e2.getMessage)
  }

  test("graft_dup_spans/graft_gopher_rules on a MOR table with live " +
      "deltas: the SNAPSHOT view is analyzed, never the stale base — " +
      "updated text and tombstones are visible, EXPLAIN stays lazy") {
    import spark.implicits._
    val path = freshTable("sql_curation_mor")
    val dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // base commit: docs 1/2 share a full dup span, doc 3 exists
    graft.merge.MorTable.upsert(spark,
      Seq((1L, dup, 1L), (2L, dup, 1L), (3L, "short", 1L))
        .toDF("doc_id", "text", "ver"),
      path, Seq("doc_id"), "ver", Seq.empty)
    // delta commit: doc 2 rewritten to unique text (the dup span
    // DISAPPEARS at the snapshot), doc 3 tombstoned
    graft.merge.MorTable.upsert(spark,
      Seq((2L, "solo unique words nothing shared anywhere at all here", 2L))
        .toDF("doc_id", "text", "ver"),
      path, Seq("doc_id"), "ver", Seq.empty)
    graft.merge.MorTable.delete(spark, Seq(3L).toDF("doc_id"), path)
    assert(graft.merge.MorTable.hasLiveDeltas(spark, path))
    val snapshot = graft.merge.MorTable.read(spark, path)
    // dup_spans: the snapshot has NO recurring 8-gram, so every row
    // reports zero duplicated mass — the stale base (what a raw
    // parquet read sees) would report docs 1/2 as fully duplicated
    val spans = spark.sql(
      s"SELECT * FROM graft_dup_spans('$path', 8) ORDER BY doc_id")
      .collect().map(_.toSeq).toSeq
    assert(spans === graft.dedup.Dedup.dupSpans(
      snapshot, "doc_id", "text", n = 8).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq)
    val staleBase = graft.dedup.Dedup.dupSpans(
      spark.read.parquet(path), "doc_id", "text", n = 8)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(spans !== staleBase,
      "the MOR path must not resolve to the raw base read")
    // gopher: row set follows the snapshot — tombstoned doc 3 is gone
    val gopher = spark.sql(
      s"SELECT * FROM graft_gopher_rules('$path') ORDER BY doc_id")
    assert(gopher.collect().map(_.toSeq).toSeq ===
      graft.text.TextAnalysis.gopherRules(snapshot, "doc_id", "text")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq)
    assert(!gopher.select("doc_id").as[Long].collect().contains(3L),
      "a tombstoned document surfaced in the quality report")
    // graft_files lists the live DELTA files alongside base — an
    // operator sizing a compaction must see them
    val listed = spark.sql(s"SELECT file FROM graft_files('$path')")
      .as[String].collect()
    assert(listed.exists(_.startsWith("_graft_deltas/")),
      s"live delta files missing from graft_files: ${listed.toSeq}")
    // graft_snapshot inherits the same discipline on both branches:
    // the current read is the snapshot view, and the as-of read is
    // the delta-aware MOR replay (not the base-namespace one)
    assert(spark.sql(s"SELECT * FROM graft_snapshot('$path') " +
      "ORDER BY doc_id").collect().toSeq ===
      snapshot.orderBy("doc_id").collect().toSeq)
    val c1 = graft.merge.Merge.commits(spark, path)
      .agg(min("commit_ts")).head().getLong(0)
    assert(spark.sql(s"SELECT * FROM graft_snapshot('$path', $c1) " +
      "ORDER BY doc_id").collect().toSeq ===
      graft.merge.MorTable.readAsOf(spark, path, c1)
        .orderBy("doc_id").collect().toSeq)
    // the snapshot resolution is still LAZY: EXPLAIN launches no jobs
    // (recorded schema = no parquet inference; the touched partitions
    // come from the delta file paths, partitioned or not)
    val jobs = jobsOf {
      spark.sql(s"EXPLAIN SELECT * FROM graft_dup_spans('$path')")
        .collect()
      spark.sql(s"EXPLAIN SELECT * FROM graft_gopher_rules('$path')")
        .collect()
    }
    assert(jobs === 0,
      s"EXPLAIN over a MOR-backed curation function ran $jobs jobs")
  }

  test("resolveCorpus after a commit: a MOR table with live deltas " +
      "resolves to the new snapshot and leaves nothing cached") {
    import spark.implicits._
    val path = freshTable("sql_corpus_fresh")
    def commit(rows: (Long, String, Long)*): Unit =
      graft.merge.MorTable.upsert(spark,
        rows.toDF("doc_id", "text", "ver"), path, Seq("doc_id"), "ver",
        Seq.empty)
    commit((1L, "one", 1L), (2L, "two", 1L))
    commit((1L, "one again", 2L))
    assert(graft.merge.MorTable.hasLiveDeltas(spark, path))
    spark.catalog.clearCache()
    def docs(): Seq[(Long, String)] =
      GraftTableFunctions.resolveCorpus(spark, path)
        .select($"doc_id", $"text").as[(Long, String)].collect()
        .toSeq.sorted
    assert(docs() === Seq((1L, "one again"), (2L, "two")))
    // a later delta rewrites doc 2 and adds doc 3
    commit((2L, "two rewritten", 3L), (3L, "three", 3L))
    assert(docs() ===
      Seq((1L, "one again"), (2L, "two rewritten"), (3L, "three")))
    assert(spark.sql(s"SELECT doc_id FROM graft_gopher_rules('$path')")
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    assert(spark.sharedState.cacheManager.isEmpty,
      "resolving the corpus left an InMemoryRelation in the cache")
  }

  test("graft_refresh_view/graft_read_view: the IVM console — EXPLAIN " +
      "refreshes nothing, a SELECT applies exactly the pending " +
      "commits, a no-op re-run returns equal cursors, the read " +
      "matches the API view") {
    import graft.merge.{IncrementalView, Merge}
    val src = freshTable("sql_ivm_src")
    val vw = freshTable("sql_ivm_view")
    def b(i: Int): DataFrame = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 7 === i)
      .select((col("o_orderkey") % 50000).as("okey"),
        col("o_orderstatus").as("part"),
        col("o_totalprice").as("price"),
        col("o_orderkey").as("pre"))
      .withColumn("bucket", col("okey") % 10)
    Merge.upsert(spark, b(0), src, Seq("okey"), "pre", "part")
    IncrementalView.create(spark, src, vw,
      srcKeys = Seq("okey", "part"), groupCols = Seq("part", "bucket"),
      sumCol = "price", partitionCol = "part")
    Merge.upsert(spark, b(1), src, Seq("okey"), "pre", "part")
    // EXPLAIN over the procedure must not move the cursor
    spark.sql(s"EXPLAIN SELECT * FROM graft_refresh_view('$vw')")
      .collect()
    val cursorAfterExplain = Merge.readTable(spark, vw)
      .agg(max("src_ts")).head().getLong(0)
    val srcHead = Merge.commits(spark, src)
      .agg(max("commit_ts")).head().getLong(0)
    assert(cursorAfterExplain < srcHead,
      "EXPLAIN over graft_refresh_view advanced the view")
    // the SELECT applies the pending commit and reports the movement
    val r1 = spark.sql(s"SELECT * FROM graft_refresh_view('$vw')")
      .head()
    assert(r1.getLong(0) === cursorAfterExplain &&
      r1.getLong(1) === srcHead, r1.toString)
    // no-op re-run: equal cursors, view untouched
    val r2 = spark.sql(s"SELECT * FROM graft_refresh_view('$vw')")
      .head()
    assert(r2.getLong(0) === r2.getLong(1))
    // the lazy read equals the API view
    assert(spark.sql(
      s"SELECT * FROM graft_read_view('$vw') ORDER BY part, bucket")
      .collect().toSeq ===
      IncrementalView.readView(spark, vw).orderBy("part", "bucket")
        .collect().toSeq)
  }

  test("graft_ann_topk: a result set over the driver cap refuses " +
      "loudly and names the conf; raising the cap serves") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sfDir)
    val idx = graft.util.Scratch.fresh("graft_anncap_spec_")
    graft.similarity.Similarity.buildIvfIndex(emb.filter($"vec_id" >= 5),
      idx, nCentroids = 10, maxTrainVectors = 256)
    val qDir = graft.util.Scratch.fresh("graft_anncap_q_") + "/q"
    emb.filter($"vec_id" < 5).coalesce(1).write.parquet(qDir)
    val conf = graft.sql.GraftAnnTopKCommand.capConf
    spark.conf.set(conf, "49") // 5 queries × k=10 = 50 > 49
    try {
      val e = intercept[Exception] {
        spark.sql(s"SELECT * FROM graft_ann_topk('$idx', '$qDir', 10, 4)")
          .collect()
      }
      assert(e.getMessage.contains(conf) &&
        e.getMessage.contains("ivfTopKServed"), e.getMessage)
      spark.conf.set(conf, "50")
      assert(spark.sql(
        s"SELECT * FROM graft_ann_topk('$idx', '$qDir', 10, 4)")
        .count() === 50L)
    } finally spark.conf.unset(conf)
  }

  test("graft_count/graft_stats: MOR with live deltas refuses loudly, " +
      "compacted MOR answers exactly, EXPLAIN launches zero jobs") {
    import spark.implicits._
    val path = freshTable("sql_count_mor")
    val rows = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 23 === 7)
      .select(col("o_orderkey").as("okey"),
        col("o_totalprice").as("price"), col("o_orderkey").as("pre"),
        col("o_orderstatus").as("part"))
    graft.merge.MorTable.upsert(spark, rows.filter($"pre" % 2 === 0),
      path, Seq("okey"), "pre", Seq("part"))
    // second upsert lands as a DELTA commit: base footers no longer
    // hold the table's rows — the silent-wrong-answer state
    graft.merge.MorTable.upsert(spark, rows.filter($"pre" % 2 === 1),
      path, Seq("okey"), "pre", Seq("part"))
    assert(graft.merge.MorTable.hasLiveDeltas(spark, path))
    for (q <- Seq(s"SELECT * FROM graft_count('$path')",
        s"SELECT * FROM graft_stats('$path', 'okey')")) {
      val e = intercept[Exception] { spark.sql(q).collect() }
      assert(e.getMessage.contains("MERGE_ON_READ") &&
        e.getMessage.contains("compact"), e.getMessage)
    }
    // compaction folds the deltas into base: footers are exact again,
    // so both functions must answer — and match the snapshot read
    graft.merge.MorTable.compact(spark, path)
    assert(!graft.merge.MorTable.hasLiveDeltas(spark, path))
    val exact = graft.merge.MorTable.read(spark, path).count()
    assert(spark.sql(s"SELECT n_rows FROM graft_count('$path')")
      .as[Long].head() === exact)
    assert(spark.sql(s"SELECT n_rows FROM graft_stats('$path', 'okey')")
      .as[Long].head() === exact)
    // the footer sweep is a command: EXPLAIN (CommandExecutionMode.SKIP)
    // must not launch the distributed metadata job — force the
    // distributed arm so a reintroduced eager resolve can't hide in the
    // driver-side path
    val prev = graft.merge.StatsPruning.distributeFooterReadsAbove
    graft.merge.StatsPruning.distributeFooterReadsAbove = 0
    try {
      val jobs = jobsOf {
        spark.sql(s"EXPLAIN SELECT * FROM graft_count('$path')").collect()
        spark.sql(s"EXPLAIN SELECT * FROM graft_stats('$path', 'okey')")
          .collect()
      }
      assert(jobs === 0, "EXPLAIN must not launch the footer sweep")
      // the same statements EXECUTED do run the distributed sweep
      val executed = jobsOf(
        assert(spark.sql(s"SELECT n_rows FROM graft_count('$path')")
          .as[Long].head() === exact))
      assert(executed > 0, "listener never observed the executed sweep")
    } finally graft.merge.StatsPruning.distributeFooterReadsAbove = prev
  }
}
