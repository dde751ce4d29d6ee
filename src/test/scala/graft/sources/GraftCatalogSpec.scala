package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The DSv2 catalog front door ([[GraftCatalog]]): native resolution,
  * native time travel, pushdown through the V1Scan shim, and the shared
  * mutation path (MERGE/UPDATE/DELETE route to the same engine commands
  * as the v1 surface).
  */
class GraftCatalogSpec extends SparkSpec {

  private lazy val warehouse: String = {
    val dir = tmpDir("graft_catspec_wh_")
    spark.conf.set("spark.sql.catalog.gcat",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.ns")
    dir
  }

  private def freshTable(name: String): String = {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS gcat.ns.$name")
    spark.sql(
      s"""CREATE TABLE gcat.ns.$name (
         |  id BIGINT, v DOUBLE, part STRING)
         |USING graft
         |PARTITIONED BY (part)
         |OPTIONS (keys 'id', precombine 'v')""".stripMargin)
    s"gcat.ns.$name"
  }

  test("create, list, exists, drop through the catalog") {
    val t = freshTable("t_ddl")
    assert(spark.sql("SHOW TABLES IN gcat.ns").collect()
      .map(_.getString(1)).contains("t_ddl"))
    assert(spark.catalog.tableExists(t))
    spark.sql(s"DROP TABLE $t")
    assert(!spark.catalog.tableExists(t))
  }

  test("INSERT INTO is the table's upsert op; SELECT sees each commit") {
    val t = freshTable("t_ins")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a'), (2, 20.0, 'b')")
    spark.sql(s"INSERT INTO $t VALUES (2, 25.0, 'b'), (3, 30.0, 'a')")
    val rows = spark.sql(s"SELECT id, v, part FROM $t ORDER BY id")
      .collect().toSeq
    assert(rows == Seq(Row(1L, 10.0, "a"), Row(2L, 25.0, "b"),
      Row(3L, 30.0, "a")))
  }

  test("op 'upsert_ordered': a late row with a lower precombine does not " +
      "regress its key, and each write records a commit") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS gcat.ns.t_ordered")
    spark.sql(
      """CREATE TABLE gcat.ns.t_ordered (
        |  id BIGINT, v DOUBLE, part STRING)
        |USING graft
        |PARTITIONED BY (part)
        |OPTIONS (keys 'id', precombine 'v', op 'upsert_ordered')""".stripMargin)
    val path = s"$warehouse/ns/t_ordered"
    spark.sql("INSERT INTO gcat.ns.t_ordered VALUES (1, 20.0, 'a')")
    val c1 = graft.merge.Merge.latestCommit(spark, path)
    assert(c1.isDefined, "the first write recorded no commit")
    // the late row for key 1 carries a lower precombine: it loses
    spark.sql(
      "INSERT INTO gcat.ns.t_ordered VALUES (1, 10.0, 'a'), (2, 5.0, 'a')")
    assert(spark.sql("SELECT id, v, part FROM gcat.ns.t_ordered ORDER BY id")
      .collect().toSeq == Seq(Row(1L, 20.0, "a"), Row(2L, 5.0, "a")))
    assert(graft.merge.Merge.latestCommit(spark, path).exists(_ > c1.get))
  }

  test("native VERSION AS OF resolves through loadTable(ident, version)") {
    val t = freshTable("t_ver")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a')")
    val c1 = graft.merge.Merge.commits(spark, s"$warehouse/ns/t_ver")
      .agg(min("commit_ts")).head.getLong(0)
    spark.sql(s"INSERT INTO $t VALUES (1, 99.0, 'a'), (2, 20.0, 'b')")
    assert(spark.sql(s"SELECT id, v FROM $t VERSION AS OF $c1").collect()
      .toSeq == Seq(Row(1L, 10.0)))
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 2L)
  }

  test("native TIMESTAMP AS OF resolves epoch-micros via the wall clock") {
    val t = freshTable("t_ts")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a')")
    val path = s"$warehouse/ns/t_ts"
    val c1 = graft.merge.Merge.commits(spark, path)
      .agg(min("commit_ts")).head.getLong(0)
    val w1 = graft.merge.Merge.commitWallClock(spark, path, c1)
      .getOrElse(sys.error("commit carries no wall clock"))
    // inclusive addressing: the second commit must not share c1's ms
    while (System.currentTimeMillis() <= w1 + 1) Thread.sleep(1)
    spark.sql(s"INSERT INTO $t VALUES (2, 20.0, 'b')")
    val lit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(w1))
    assert(spark.sql(s"SELECT id FROM $t TIMESTAMP AS OF '$lit'")
      .collect().toSeq == Seq(Row(1L)))
  }

  test("filters and column pruning are pushed into the v2 scan") {
    val t = freshTable("t_push")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a'), (2, 20.0, 'b'), " +
      "(3, 30.0, 'a')")
    val q = spark.sql(s"SELECT id FROM $t WHERE part = 'a' AND v > 15.0")
    val scan = q.queryExecution.executedPlan.toString()
    // RowDataSourceScanExec surfaces the recorded pushdown
    assert(scan.contains("PushedFilters"), scan)
    assert(scan.contains("EqualTo(part,a)"), scan)
    assert(scan.contains("GreaterThan(v,15.0)"), scan)
    assert(q.collect().toSeq == Seq(Row(3L)))
  }

  test("MERGE INTO a catalog table routes to the shared merge command") {
    val t = freshTable("t_merge")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a'), (2, 20.0, 'b')")
    spark.sql(
      s"""MERGE INTO $t tgt
         |USING (SELECT * FROM VALUES (2, 25.0, 'b'), (3, 30.0, 'a')
         |       AS s(id, v, part)) src
         |ON tgt.id = src.id
         |WHEN MATCHED AND src.v > 100 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = src.v
         |WHEN NOT MATCHED THEN INSERT (id, v, part)
         |  VALUES (src.id, src.v, src.part)""".stripMargin)
    assert(spark.sql(s"SELECT id, v FROM $t ORDER BY id").collect()
      .toSeq == Seq(Row(1L, 10.0), Row(2L, 25.0), Row(3L, 30.0)))
  }

  test("UPDATE and DELETE FROM work on catalog tables") {
    val t = freshTable("t_upd")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a'), (2, 20.0, 'b')")
    spark.sql(s"UPDATE $t SET v = v + 1.0 WHERE id = 1")
    spark.sql(s"DELETE FROM $t WHERE id = 2")
    assert(spark.sql(s"SELECT id, v FROM $t").collect().toSeq ==
      Seq(Row(1L, 11.0)))
  }

  test("INSERT OVERWRITE replaces exactly the partitions in the batch") {
    val t = freshTable("t_ovw")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a'), (2, 20.0, 'b')")
    spark.sql(s"INSERT OVERWRITE $t VALUES (9, 90.0, 'a')")
    // partition 'a' replaced, partition 'b' untouched (the engine's
    // insert_overwrite contract, same as the v1 SaveMode.Overwrite)
    assert(spark.sql(s"SELECT id, part FROM $t ORDER BY id").collect()
      .toSeq == Seq(Row(2L, "b"), Row(9L, "a")))
  }

  test("ALTER TABLE ADD COLUMNS evolves the recorded schema") {
    val t = freshTable("t_alter")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a')")
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (note STRING)")
    assert(spark.sql(s"SELECT id, note FROM $t").collect().toSeq ==
      Seq(Row(1L, null)))
  }

  test("a time-travel snapshot refuses writes") {
    val t = freshTable("t_ro")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a')")
    val c1 = graft.merge.Merge.commits(spark, s"$warehouse/ns/t_ro")
      .agg(min("commit_ts")).head.getLong(0)
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $t VERSION AS OF $c1 VALUES (2, 2.0, 'b')")
    }
    assert(e.getMessage != null)
  }

  test("catalog state is plain files: the v1 reader sees the same table") {
    val t = freshTable("t_share")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a'), (2, 20.0, 'b')")
    val viaV1 = spark.read.format("graft").load(s"$warehouse/ns/t_share")
      .orderBy("id").select("id", "v").collect().toSeq
    assert(viaV1 == Seq(Row(1L, 10.0), Row(2L, 20.0)))
  }

  test("_commit_ts is a metadata column: hidden from *, served on request") {
    val t = freshTable("t_meta")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a')")
    spark.sql(s"INSERT INTO $t VALUES (2, 20.0, 'b')")
    // SELECT * shows user columns only
    assert(spark.sql(s"SELECT * FROM $t").schema.fieldNames.toSeq ==
      Seq("id", "v", "_commit_ts", "part").filterNot(_ == "_commit_ts"))
    // explicitly requested, the commit stamp rides along — and is the
    // per-row commit id the timeline recorded
    val stamped = spark.sql(s"SELECT id, _commit_ts FROM $t ORDER BY id")
      .collect().toSeq
    val commits = graft.merge.Merge.commits(spark, s"$warehouse/ns/t_meta")
      .select("commit_ts").collect().map(_.getLong(0)).sorted.toSeq
    assert(stamped.map(_.getLong(0)) == Seq(1L, 2L))
    assert(stamped.map(_.getLong(1)) == commits)
  }

  test("CTAS through the catalog (CREATE TABLE ... AS SELECT)") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS gcat.ns.t_ctas")
    spark.sql(
      """CREATE TABLE gcat.ns.t_ctas
        |USING graft
        |PARTITIONED BY (part)
        |OPTIONS (keys 'id', precombine 'v')
        |AS SELECT id, CAST(v AS DOUBLE) AS v, part
        |   FROM VALUES (1L, 10.0, 'a'), (2L, 20.0, 'b')
        |   AS src(id, v, part)""".stripMargin)
    assert(spark.sql("SELECT id, v, part FROM gcat.ns.t_ctas ORDER BY id")
      .collect().toSeq == Seq(Row(1L, 10.0, "a"), Row(2L, 20.0, "b")))
    // CTAS is commit 1 of a versioned table like any other write
    spark.sql("INSERT INTO gcat.ns.t_ctas VALUES (1, 11.0, 'a')")
    assert(spark.sql("SELECT v FROM gcat.ns.t_ctas WHERE id = 1")
      .head.getDouble(0) == 11.0)
  }

  test("_commit_ts is refused as a user column name") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS gcat.ns.t_resv")
    val e = intercept[Exception] {
      spark.sql(
        """CREATE TABLE gcat.ns.t_resv (id BIGINT, _commit_ts LONG,
          |  part STRING)
          |USING graft PARTITIONED BY (part)
          |OPTIONS (keys 'id', precombine 'id')""".stripMargin)
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)
    // the failed create left nothing behind
    assert(!spark.catalog.tableExists("gcat.ns.t_resv"))
  }

  test("DataFrameWriterV2: df.writeTo(catalog table).append()") {
    val t = freshTable("t_dfw")
    import spark.implicits._
    Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("id", "v", "part")
      .writeTo(t).append()
    Seq((2L, 25.0, "b")).toDF("id", "v", "part").writeTo(t).append()
    assert(spark.sql(s"SELECT id, v FROM $t ORDER BY id").collect()
      .toSeq == Seq(Row(1L, 10.0), Row(2L, 25.0)))
  }

  test("two graft catalogs with separate warehouses join across") {
    val t1 = freshTable("t_x1")
    spark.sql(s"INSERT INTO $t1 VALUES (1, 10.0, 'a'), (2, 20.0, 'b')")
    val wh2 = tmpDir("graft_catspec_wh2_")
    spark.conf.set("spark.sql.catalog.gcat2",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat2.warehouse", wh2)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat2.dim")
    spark.sql(
      """CREATE TABLE gcat2.dim.names (id BIGINT, nm STRING, grp STRING)
        |USING graft PARTITIONED BY (grp)
        |OPTIONS (keys 'id', precombine 'id')""".stripMargin)
    spark.sql("INSERT INTO gcat2.dim.names VALUES (1, 'one', 'g'), " +
      "(2, 'two', 'g')")
    val joined = spark.sql(
      s"""SELECT f.id, f.v, d.nm
         |FROM $t1 f JOIN gcat2.dim.names d ON f.id = d.id
         |ORDER BY f.id""".stripMargin).collect().toSeq
    assert(joined == Seq(Row(1L, 10.0, "one"), Row(2L, 20.0, "two")))
  }

  test("streaming foreachBatch upserts into a catalog table") {
    val t = freshTable("t_stream")
    import spark.implicits._
    val src = tmpDir("graft_catspec_stream_") + "/in"
    Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (2L, 25.0, "b"))
      .toDF("id", "v", "part").write.parquet(src)
    val q = spark.readStream
      .schema("id BIGINT, v DOUBLE, part STRING").parquet(src)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
          _: Long) => batch.writeTo(t).append() }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("graft_catspec_ck_"))
      .start()
    q.awaitTermination(120000)
    // the table's upsert op deduped the in-batch tie by precombine
    assert(spark.sql(s"SELECT id, v FROM $t ORDER BY id").collect()
      .toSeq == Seq(Row(1L, 10.0), Row(2L, 25.0)))
  }

  test("racing CREATE TABLEs serialize on the exclusive marker claim: " +
      "exactly one wins, and pre-existing data at the path survives") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    import org.apache.spark.sql.connector.expressions.Transform
    import org.apache.spark.sql.types.StructType
    import scala.jdk.CollectionConverters._
    import scala.util.Try
    warehouse
    spark.sql("DROP TABLE IF EXISTS gcat.ns.t_race")
    // the path pre-exists with unrelated data (the register-an-
    // existing-location scenario): no failure path may delete it
    val dir = new java.io.File(s"$warehouse/ns/t_race")
    dir.mkdirs()
    // underscore-prefixed so the engine's readers skip it; existence
    // is what the cleanup-path assert cares about
    val sentinel = new java.io.File(dir, "_preexisting.bin")
    java.nio.file.Files.write(sentinel.toPath, Array[Byte](1, 2, 3))
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[TableCatalog]
    val ident = Identifier.of(Array("ns"), "t_race")
    val schema = new StructType().add("id", "bigint").add("part", "string")
    val props = Map("keys" -> "id", "precombine" -> "id",
      "partition" -> "part").asJava
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val attempts = (1 to 2).map { _ =>
      scala.concurrent.Future {
        gate.await()
        Try(cat.createTable(ident, schema,
          Array.empty[Transform], props))
      }
    }
    gate.countDown()
    val results = attempts.map(f => scala.concurrent.Await.result(f,
      scala.concurrent.duration.Duration(60, "s")))
    pool.shutdown()
    assert(results.count(_.isSuccess) === 1, results.toString)
    results.filter(_.isFailure).foreach { r =>
      assert(r.failed.get.isInstanceOf[
        org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException],
        r.toString)
    }
    assert(sentinel.exists(), "losing CREATE must not delete the dir")
    // the winner's table is fully usable
    spark.sql("INSERT INTO gcat.ns.t_race VALUES (1, 'a')")
    assert(spark.sql("SELECT id FROM gcat.ns.t_race").collect()
      .map(_.getLong(0)).toSeq === Seq(1L))
    spark.sql("DROP TABLE gcat.ns.t_race")
  }

  test("INSERT OVERWRITE PARTITION (static pin) replaces only the " +
      "pinned partition; arbitrary overwrite conditions are refused") {
    val t = freshTable("t_ovwf")
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0, 'a'), (2, 20.0, 'b')")
    // static partition pin arrives as an EqualTo partition filter
    spark.sql(s"INSERT OVERWRITE $t PARTITION (part = 'a') " +
      "(SELECT 9 AS id, 90.0 AS v)")
    assert(spark.sql(s"SELECT id, part FROM $t ORDER BY id").collect()
      .toSeq == Seq(Row(2L, "b"), Row(9L, "a")))
    // a non-partition condition cannot mean replace-these-partitions:
    // it must be refused, not silently degraded to replace-the-batch's
    // partitions (which would delete rows the condition never selected)
    import spark.implicits._
    val batch = Seq((5L, 50.0, "a")).toDF("id", "v", "part")
    val e = intercept[Exception] {
      batch.writeTo(t).overwrite(col("id") === 1L)
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      c.isInstanceOf[UnsupportedOperationException] &&
        c.getMessage.contains("cannot honor filter")), e.toString)
    // and the refused write changed nothing
    assert(spark.sql(s"SELECT id, part FROM $t ORDER BY id").collect()
      .toSeq == Seq(Row(2L, "b"), Row(9L, "a")))
  }

  test("partition columns must be declared last") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS gcat.ns.t_bad")
    val e = intercept[Exception] {
      spark.sql(
        """CREATE TABLE gcat.ns.t_bad (part STRING, id BIGINT, v DOUBLE)
          |USING graft PARTITIONED BY (part)
          |OPTIONS (keys 'id', precombine 'v')""".stripMargin)
    }
    assert(e.getMessage.contains("declare partition columns last"),
      e.getMessage)
  }

  test("both-side-bounded SQL filters prune files at plan time; " +
      "answers equal the unpruned scan") {
    import spark.implicits._
    warehouse
    spark.sql("DROP TABLE IF EXISTS gcat.ns.t_prune")
    val path = s"$warehouse/ns/t_prune"
    // range-clustered layout: bulkInsert's repartitionByRange gives
    // each file a tight disjoint okey range, so a BETWEEN must drop
    // most files
    val rows = graft.Tables.lineitem(spark, sfDir).select(
      col("l_orderkey").as("okey"), col("l_extendedprice").as("price"),
      col("l_returnflag").as("part"))
    graft.merge.Merge.bulkInsert(rows, path, "part",
      keyCols = Seq("okey"), targetFileBytes = 32L << 10)
    // adopt the pre-existing v1 table into the catalog
    spark.sql(
      """CREATE TABLE gcat.ns.t_prune (
        |  okey BIGINT, price DOUBLE, part STRING)
        |USING graft PARTITIONED BY (part)
        |OPTIONS (keys 'okey', versioned 'false')""".stripMargin)
    val total = graft.merge.Merge.readTable(spark, path).inputFiles.length
    assert(total > 3, s"layout too coarse to prove pruning ($total files)")
    CatalogStatsPrune.lastPruned = None
    val got = spark.sql(
      """SELECT okey, price, part FROM gcat.ns.t_prune
        |WHERE okey BETWEEN 100 AND 500""".stripMargin)
      .as[(Long, Double, String)].collect().toSeq.sorted
    // pruning engaged and actually dropped files
    val (kept, seen) = CatalogStatsPrune.lastPruned.getOrElse(
      fail("CatalogStatsPrune did not engage on a BETWEEN"))
    assert(seen === total)
    assert(kept < total, s"no file pruned ($kept of $total kept)")
    // ...and is result-invisible vs the unpruned relation
    val want = graft.merge.Merge.readTable(spark, path)
      .filter($"okey" >= 100 && $"okey" <= 500)
      .select("okey", "price", "part")
      .as[(Long, Double, String)].collect().toSeq.sorted
    assert(got === want)
    assert(got.nonEmpty, "empty range — dead assert")
    // a one-sided bound must NOT engage (conservative scope)
    CatalogStatsPrune.lastPruned = None
    spark.sql("SELECT okey FROM gcat.ns.t_prune WHERE okey >= 100")
      .collect()
    assert(CatalogStatsPrune.lastPruned.isEmpty)
    ()
  }

  test("point lookups probe the bloom key index: only matched file " +
      "groups are read, answers unchanged") {
    import spark.implicits._
    import graft.merge.{KeyIndex, Merge}
    warehouse
    spark.sql("DROP TABLE IF EXISTS gcat.ns.t_bloom")
    val path = s"$warehouse/ns/t_bloom"
    // table-scoped 0/0 gate policy (recorded before the first commit):
    // build + probe engage at toy scale with no JVM-global mutation
    KeyIndex.setProbeGates(spark, path, 0, 0L)
    locally {
      val rows = graft.Tables.orders(spark, sfDir)
        .select((col("o_orderkey") % 500).as("okey"),
          col("o_totalprice").as("price"),
          col("o_orderkey").as("pre"),
          col("o_orderstatus").as("part"))
      // four DISJOINT key-range commits -> four file groups per
      // partition, none rewritten; footer okey ranges within a
      // partition are then disjoint too, but the point of the bloom
      // arm is the UNCLUSTERED common case, so probe a key that range
      // stats alone could not isolate: every group holds keys from the
      // whole o_totalprice/o_orderstatus space, only one holds okey=123
      (0 until 4).foreach { b =>
        Merge.upsert(spark,
          rows.filter($"okey" >= b * 125 && $"okey" < (b + 1) * 125),
          path, Seq("okey"), "pre", "part")
      }
      spark.sql(
        """CREATE TABLE gcat.ns.t_bloom (
          |  okey BIGINT, price DOUBLE, pre BIGINT, part STRING)
          |USING graft PARTITIONED BY (part)
          |OPTIONS (keys 'okey', precombine 'pre',
          |         versioned 'false')""".stripMargin)
      CatalogStatsPrune.lastPruned = None
      val got = spark.sql(
        """SELECT okey, price, pre, part FROM gcat.ns.t_bloom
          |WHERE okey = 123 AND part = 'O'""".stripMargin)
        .as[(Long, Double, Long, String)].collect().toSeq.sorted
      val (kept, total) = CatalogStatsPrune.lastPruned.getOrElse(
        fail("bloom lookup did not engage on a full scoped-key point"))
      assert(total >= 4, s"layout too coarse ($total files in 'O')")
      assert(kept < total, s"no file skipped ($kept of $total)")
      val want = Merge.readTable(spark, path)
        .filter($"okey" === 123 && $"part" === "O")
        .select("okey", "price", "pre", "part")
        .as[(Long, Double, Long, String)].collect().toSeq.sorted
      assert(got === want)
      assert(got.nonEmpty, "probe key absent — dead assert")
      // the policy is table metadata: the JVM defaults are untouched
      assert(KeyIndex.minFilesToProbe === 64)
      assert(KeyIndex.minBytesToProbe === 4L << 30)
    }
    // time-travel / incremental / CDC parameters must bypass pruning
    // entirely (those reads resolve through their own snapshot logic,
    // not the current file set)
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    val bounded = Array[org.apache.spark.sql.sources.Filter](
      GreaterThanOrEqual("okey", 100L), LessThanOrEqual("okey", 500L))
    Seq("asOf" -> "1", "asOfTimestamp" -> "1", "sinceCommit" -> "1",
      "changesAfter" -> "1").foreach { case (k, v) =>
      assert(CatalogStatsPrune.tryPrune(spark,
        Map("path" -> path, k -> v), bounded).isEmpty,
        s"pruning must not engage under $k")
    }
  }
}
