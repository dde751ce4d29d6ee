package graft.merge

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** §2.4 merge-pipeline laws: precombine dedup (O4), last-writer-wins
  * upsert (O1), idempotence, delete (O3), partition isolation — the
  * Hudi-semantics spots SURVEY §7 flags as the hardest correctness area.
  */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private val keyCols = Seq("transaction_id", "close_time")

  private def tx(rows: (String, String, String, Double)*): DataFrame =
    rows.toDF("transaction_id", "close_time", "pair", "price")

  private def readTable(path: String): Seq[(String, String, String, Double)] =
    spark.read.parquet(path)
      .select("transaction_id", "close_time", "pair", "price")
      .as[(String, String, String, Double)]
      .collect().toSeq.sorted

  test("precombineDedup keeps max-precombine row per key (O4)") {
    val batch = Seq(
      ("T1", "2024-01-01", "ADAGBP", 1.0),
      ("T1", "2024-01-01", "ADAGBP", 2.0),
      ("T2", "2024-01-01", "ADAGBP", 3.0)
    ).toDF("transaction_id", "close_time", "pair", "price")
    // precombine on price: highest price wins within the duplicate key
    val out = Merge.precombineDedup(batch, keyCols, "price")
    assert(out.count() === 2)
    val t1 = out.filter($"transaction_id" === "T1").select("price")
      .as[Double].head()
    assert(t1 === 2.0)
  }

  test("precombineDedup tie-break is deterministic") {
    val batch = Seq(
      ("T1", "c", "ADAGBP", 5.0, "a"),
      ("T1", "c", "ADAGBP", 5.0, "b")
    ).toDF("transaction_id", "close_time", "pair", "price", "tag")
    val out = Merge.precombineDedup(batch, keyCols, "price", Seq("tag"))
    assert(out.select("tag").as[String].collect().toSeq === Seq("b"))
  }

  test("upsert creates table then replaces rows by key (O1)") {
    val path = tmpDir("upsert")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c1", "BTCUSD", 2.0)), path, keyCols, "price", "pair")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 9.0)),
      path, keyCols, "price", "pair")
    assert(readTable(path) === Seq(
      ("T1", "c1", "ADAGBP", 9.0),
      ("T2", "c1", "BTCUSD", 2.0)))
  }

  test("upsert batch wins even when stored precombine is higher") {
    // Hudi OverwriteWithLatestAvroPayload: precombine only resolves
    // in-batch duplicates; incoming always overwrites stored.
    val path = tmpDir("upsertwin")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 9.0)),
      path, keyCols, "price", "pair")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    assert(readTable(path) === Seq(("T1", "c1", "ADAGBP", 1.0)))
  }

  test("upsert is idempotent") {
    val path = tmpDir("idem")
    val batch = tx(("T1", "c1", "ADAGBP", 1.0), ("T2", "c2", "ADAGBP", 2.0))
    Merge.upsert(spark, batch, path, keyCols, "price", "pair")
    val first = readTable(path)
    Merge.upsert(spark, batch, path, keyCols, "price", "pair")
    assert(readTable(path) === first)
  }

  test("upsert leaves untouched partitions alone (file-group isolation)") {
    val path = tmpDir("dynpart")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c1", "BTCUSD", 2.0)), path, keyCols, "price", "pair")
    // upsert touching only ADAGBP must not rewrite BTCUSD files
    val btcFilesBefore = new java.io.File(s"$path/pair=BTCUSD")
      .listFiles().map(_.getName).toSet
    Merge.upsert(spark, tx(("T3", "c1", "ADAGBP", 3.0)),
      path, keyCols, "price", "pair")
    val btcFilesAfter = new java.io.File(s"$path/pair=BTCUSD")
      .listFiles().map(_.getName).toSet
    assert(btcFilesBefore === btcFilesAfter)
    assert(readTable(path).size === 3)
  }

  test("insertOverwrite replaces touched partitions wholesale, others untouched") {
    val path = tmpDir("iow")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c1", "ADAGBP", 2.0), ("T3", "c1", "BTCUSD", 3.0)),
      path, keyCols, "price", "pair")
    val btcBefore = new java.io.File(s"$path/pair=BTCUSD")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap
    Thread.sleep(20)
    // batch carries a within-batch dup for T1 — precombine must pick
    // 9.0; stored T2 vanishes WITHOUT being read (partition replace)
    Merge.insertOverwrite(spark, tx(("T1", "c1", "ADAGBP", 5.0),
      ("T1", "c1", "ADAGBP", 9.0), ("T4", "c4", "ADAGBP", 4.0)),
      path, keyCols, "price", "pair")
    assert(readTable(path) === Seq(
      ("T1", "c1", "ADAGBP", 9.0),
      ("T3", "c1", "BTCUSD", 3.0),
      ("T4", "c4", "ADAGBP", 4.0)))
    val btcAfter = new java.io.File(s"$path/pair=BTCUSD")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(btcAfter === btcBefore, "untouched partition must not move")
  }

  test("insertOverwrite into a brand-new partition is a plain append") {
    val path = tmpDir("iownew")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    // one batch both replaces an existing partition and creates a new
    // one — the new partition has no files to supersede
    Merge.insertOverwrite(spark, tx(("T2", "c2", "ADAGBP", 2.0),
      ("T3", "c3", "ETHUSD", 3.0)), path, keyCols, "price", "pair")
    assert(readTable(path) === Seq(
      ("T2", "c2", "ADAGBP", 2.0),
      ("T3", "c3", "ETHUSD", 3.0)))
  }

  test("delete removes only matching keys in touched partitions (O3)") {
    val path = tmpDir("delete")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c2", "ADAGBP", 2.0), ("T3", "c3", "BTCUSD", 3.0)),
      path, keyCols, "price", "pair")
    Merge.delete(spark, tx(("T1", "c1", "ADAGBP", 0.0)),
      path, keyCols, "pair")
    assert(readTable(path) === Seq(
      ("T2", "c2", "ADAGBP", 2.0),
      ("T3", "c3", "BTCUSD", 3.0)))
  }

  test("delete that empties a whole partition drops its directory") {
    // the survivors append only writes partitions WITH survivors; an
    // emptied partition's dir must still be dropped (delete()'s contract)
    val path = tmpDir("delall")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c2", "BTCUSD", 2.0)), path, keyCols, "price", "pair")
    Merge.delete(spark, tx(("T1", "c1", "ADAGBP", 0.0)),
      path, keyCols, "pair")
    assert(readTable(path) === Seq(("T2", "c2", "BTCUSD", 2.0)))
    assert(!new java.io.File(s"$path/pair=ADAGBP").exists())
  }

  test("delete of every stored row commits cleanly (empty staged merge)") {
    val path = tmpDir("delall2")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c2", "ADAGBP", 2.0)), path, keyCols, "price", "pair")
    Merge.delete(spark, tx(("T1", "c1", "ADAGBP", 0.0),
      ("T2", "c2", "ADAGBP", 0.0)), path, keyCols, "pair")
    assert(!new java.io.File(s"$path/pair=ADAGBP").exists())
    // the table location survives with no partitions; a schema-enforced
    // read sees zero rows
    assert(spark.read.schema(tx().schema).parquet(path).count() === 0)
  }

  test("merge commit leaves no staging dirs behind") {
    val path = tmpDir("stageclean")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 2.0)),
      path, keyCols, "price", "pair")
    Merge.delete(spark, tx(("T1", "c1", "ADAGBP", 0.0)),
      path, keyCols, "pair")
    val base = new java.io.File(path).getName
    val siblings = new java.io.File(path).getParentFile.listFiles()
      .map(_.getName).filter(n => n.startsWith(base) && n.contains("_staging_"))
    assert(siblings.isEmpty)
  }

  test("insert appends without key reconciliation (O2)") {
    val path = tmpDir("insert")
    Merge.insert(tx(("T1", "c1", "ADAGBP", 1.0)), path, "pair")
    Merge.insert(tx(("T1", "c1", "ADAGBP", 2.0)), path, "pair")
    assert(spark.read.parquet(path).count() === 2)
  }

  test("null partition values: upsert keeps stored rows, delete removes one key") {
    val path = tmpDir("nullpart")
    val withNull = Seq(
      ("T1", "c1", null.asInstanceOf[String], 1.0),
      ("T2", "c2", null.asInstanceOf[String], 2.0),
      ("T3", "c3", "BTCUSD", 3.0)
    ).toDF("transaction_id", "close_time", "pair", "price")
    Merge.upsert(spark, withNull, path, keyCols, "price", "pair")
    // a second upsert touching the null partition must NOT lose T2
    // (isin would silently exclude null-partition stored rows)
    Merge.upsert(spark, Seq(("T1", "c1", null.asInstanceOf[String], 9.0))
      .toDF("transaction_id", "close_time", "pair", "price"),
      path, keyCols, "price", "pair")
    val afterUpsert = spark.read.parquet(path)
      .select("transaction_id", "price")
      .as[(String, Double)].collect().toSet
    assert(afterUpsert === Set(("T1", 9.0), ("T2", 2.0), ("T3", 3.0)))
    // deleting one null-partition key keeps the other
    Merge.delete(spark, Seq(("T1", "c1", null.asInstanceOf[String], 0.0))
      .toDF("transaction_id", "close_time", "pair", "price"),
      path, keyCols, "pair")
    val afterDelete = spark.read.parquet(path)
      .select("transaction_id").as[String].collect().toSet
    assert(afterDelete === Set("T2", "T3"))
    assert(new java.io.File(s"$path/pair=__HIVE_DEFAULT_PARTITION__").exists())
  }

  test("emptied-partition drop handles hive-escaped partition values") {
    val path = tmpDir("escpart")
    // ':' is hive-escaped to %3A in the partition dir name
    Merge.upsert(spark, tx(("T1", "c1", "A:B", 1.0),
      ("T2", "c2", "BTCUSD", 2.0)), path, keyCols, "price", "pair")
    assert(new java.io.File(s"$path/pair=A%3AB").exists())
    Merge.delete(spark, tx(("T1", "c1", "A:B", 0.0)),
      path, keyCols, "pair")
    assert(!new java.io.File(s"$path/pair=A%3AB").exists())
    assert(readTable(path) === Seq(("T2", "c2", "BTCUSD", 2.0)))
  }

  test("commit timeline: readSince returns only later-commit records") {
    val path = tmpDir("timeline")
    val c1 = Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c2", "ADAGBP", 2.0)), path, keyCols, "price", "pair")
    val c2 = Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 9.0),
      ("T3", "c3", "BTCUSD", 3.0)), path, keyCols, "price", "pair")
    assert(c2 === c1 + 1)
    // incremental pull after c1: T1 (rewritten by c2) and T3 (new),
    // but NOT T2 (still owned by c1)
    val since = Merge.readSince(spark, path, c1)
      .select("transaction_id").as[String].collect().toSet
    assert(since === Set("T1", "T3"))
    // full pull from the epoch sees everything
    assert(Merge.readSince(spark, path, 0L).count() === 3)
    // a third upsert keeps the timeline monotonic
    val c3 = Merge.upsert(spark, tx(("T2", "c2", "ADAGBP", 5.0)),
      path, keyCols, "price", "pair")
    assert(c3 === c2 + 1)
    assert(Merge.readSince(spark, path, c2)
      .select("transaction_id").as[String].collect().toSeq === Seq("T2"))
  }

  test("compositeKey joins fields ComplexKeyGenerator-style (O5)") {
    val df = tx(("T1", "c1", "ADAGBP", 1.0))
      .select(Merge.compositeKey(keyCols).as("k"))
    assert(df.as[String].head() === "T1:c1")
  }

  private def parquetFiles(dir: String): Map[String, Long] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Map.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
  }

  private def fileOfKey(path: String, txid: String): String = {
    val f = spark.read.parquet(path)
      .select(input_file_name().as("f"), $"transaction_id")
      .filter($"transaction_id" === txid)
      .select("f").as[String].head()
    f.substring(f.lastIndexOf('/') + 1)
  }

  test("upsert rewrites only the parquet files containing matched keys") {
    val path = tmpDir("filegroup")
    // two upserts with disjoint keys → two separate files in ONE partition
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    Merge.upsert(spark, tx(("T2", "c2", "ADAGBP", 2.0)),
      path, keyCols, "price", "pair")
    val dir = s"$path/pair=ADAGBP"
    val before = parquetFiles(dir)
    assert(before.size === 2)
    val t1File = fileOfKey(path, "T1")
    val t2File = fileOfKey(path, "T2")
    assert(t1File !== t2File)
    Thread.sleep(20) // ensure a rewrite would move mtime
    // upsert touching only T2: T1's file must survive byte-untouched
    // (same name, same mtime) while T2's file is replaced
    Merge.upsert(spark, tx(("T2", "c2", "ADAGBP", 9.0)),
      path, keyCols, "price", "pair")
    val after = parquetFiles(dir)
    assert(after.contains(t1File) && after(t1File) === before(t1File))
    assert(!after.contains(t2File))
    assert(readTable(path) === Seq(
      ("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c2", "ADAGBP", 9.0)))
  }

  test("delete rewrites only the files containing deleted keys") {
    val path = tmpDir("filegroupdel")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    Merge.upsert(spark, tx(("T2", "c2", "ADAGBP", 2.0)),
      path, keyCols, "price", "pair")
    val dir = s"$path/pair=ADAGBP"
    val before = parquetFiles(dir)
    val t1File = fileOfKey(path, "T1")
    Thread.sleep(20)
    Merge.delete(spark, tx(("T2", "c2", "ADAGBP", 0.0)),
      path, keyCols, "pair")
    val after = parquetFiles(dir)
    assert(after.contains(t1File) && after(t1File) === before(t1File))
    assert(readTable(path) === Seq(("T1", "c1", "ADAGBP", 1.0)))
  }

  test("additive schema evolution: new batch column null-fills stored rows") {
    val path = tmpDir("evolve")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c2", "BTCUSD", 2.0)), path, keyCols, "price", "pair")
    // batch 2 carries a new column and touches only T1
    Merge.upsert(spark,
      tx(("T1", "c1", "ADAGBP", 9.0)).withColumn("src", lit("manual")),
      path, keyCols, "price", "pair")
    val rows = Merge.readTable(spark, path)
      .select("transaction_id", "price", "src")
      .as[(String, Double, Option[String])].collect().toSet
    assert(rows === Set(
      ("T1", 9.0, Some("manual")),
      ("T2", 2.0, None))) // stored row read back null-filled
    // dropping columns still fails loudly
    val e = intercept[IllegalArgumentException] {
      Merge.upsert(spark,
        tx(("T1", "c1", "ADAGBP", 3.0)).drop("price"),
        path, keyCols, "transaction_id", "pair")
    }
    assert(e.getMessage.contains("price"))
  }

  test("timeline stays monotonic when a delete removes the latest commit's rows") {
    val path = tmpDir("monotimeline")
    val c1 = Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    val c2 = Merge.upsert(spark, tx(("T2", "c2", "ADAGBP", 2.0)),
      path, keyCols, "price", "pair")
    // remove EVERY row stamped with c2 — a data-derived max would now
    // reuse c2 and an incremental consumer would miss the reused commit
    val cd = Merge.delete(spark, tx(("T2", "c2", "ADAGBP", 0.0)),
      path, keyCols, "pair")
    val c3 = Merge.upsert(spark, tx(("T3", "c3", "ADAGBP", 3.0)),
      path, keyCols, "price", "pair")
    // the delete is a commit of its own: it takes the next id
    assert(cd === c2 + 1)
    assert(c3 === c2 + 2)
    assert(Merge.readSince(spark, path, c2)
      .select("transaction_id").as[String].collect().toSeq === Seq("T3"))
    assert(c1 === 1L)
  }

  test("commits() enumerates the timeline; readBetween pulls a commit range") {
    val path = tmpDir("commitlist")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c2", "BTCUSD", 2.0)), path, keyCols, "price", "pair")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 9.0)),
      path, keyCols, "price", "pair")
    Merge.upsert(spark, tx(("T3", "c3", "BTCUSD", 3.0)),
      path, keyCols, "price", "pair")
    val listed = Merge.commits(spark, path).orderBy("commit_ts")
      .as[(Long, Long, String)].collect().toSeq
    assert(listed === Seq(
      (1L, 2L, "ADAGBP,BTCUSD"),
      (2L, 1L, "ADAGBP"),
      (3L, 1L, "BTCUSD")))
    // (1, 2]: rows last written by commit 2 only
    assert(Merge.readBetween(spark, path, 1L, 2L)
      .select("transaction_id").as[String].collect().toSeq === Seq("T1"))
    // (0, 3]: everything currently alive
    assert(Merge.readBetween(spark, path, 0L, 3L).count() === 3)
  }

  test("upsert's matched-file probe: column-pruned key scan, no exchange") {
    // the only table-sized cost of a file-group upsert is the key scan:
    // it must read ONLY the key columns (parquet pruning) and test them
    // against the collected batch keys in place — no join, so neither a
    // broadcast nor a shuffle
    val path = tmpDir("planscan")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c2", "ADAGBP", 2.0)), path, keyCols, "price", "pair")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 9.0)),
        path, keyCols, "price", "pair")
      Thread.sleep(2000) // listener delivery is asynchronous
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val probes = plans.asScala.filter(p =>
      " IN \\d+ keys".r.findFirstIn(p).isDefined &&
        p.contains("input_file_name"))
    assert(probes.nonEmpty, plans.asScala.mkString("\n---\n"))
    probes.foreach { p =>
      assert(!p.contains("Exchange") && !p.contains("Join"), p)
      val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
      assert(!readSchema.contains("price"), readSchema) // data cols pruned
    }
  }

  test("corrupt schema metadata degrades to footer merge without narrowing") {
    val path = tmpDir("schemacorrupt") + "/table"
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    // corrupt the recorded schema, then write a batch WITHOUT _commit_ts
    // through the schema-recording insert path
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_graft_schema.json"), "{corrupt")
    Merge.insert(tx(("T2", "c2", "ADAGBP", 2.0)), path, "pair")
    // the re-recorded schema must come from the FILES (which carry
    // _commit_ts), not from the narrow batch — otherwise the evolved
    // column silently vanishes from every read and a compact() would
    // physically drop it
    val t = Merge.readTable(spark, path)
    assert(t.columns.contains(Merge.commitCol), t.columns.mkString(","))
    assert(t.filter(col(Merge.commitCol) === 1L).count() === 1)
  }

  // the footer-merge fallback must find the data files at any depth:
  // unpartitioned tables keep them at the root, two-level layouts two
  // directories down
  Seq("unpartitioned" -> Seq.empty[String], "one-level" -> Seq("pair"),
      "two-level" -> Seq("day", "pair")).foreach { case (layout, partCols) =>
    test(s"missing schema metadata keeps evolved columns ($layout layout)") {
      val path = tmpDir("schemafallback") + "/table"
      def batch(ids: Seq[String]): DataFrame =
        tx(ids.map(id => (id, "c1", "ADAGBP", 1.0)): _*)
          .withColumn("day", lit("2024-01-01"))
      def insert(df: DataFrame): Unit =
        Merge.insert(df, path, partCols, Nil, null, dedup = false)
      insert(batch(Seq("T1")))
      insert(batch(Seq("T2")).withColumn("fee", lit(0.5)))
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(path, "_graft_schema.json"))
      insert(batch(Seq("T3")))
      val t = Merge.readTable(spark, path)
      assert(t.columns.contains("fee"), t.columns.mkString(","))
      assert(t.filter(col("fee") === 0.5).count() === 1)
    }
  }

  test("vacuum removes leaked staging siblings, keeps the table and inflight markers") {
    val path = tmpDir("vacuum") + "/table"
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    // simulate a failed commit's leftovers: a staging sibling and a
    // crashed commit's inflight marker
    val staging = new java.io.File(s"${path}_staging_123/x")
    staging.mkdirs()
    val inflight = new java.io.File(s"$path/_graft_commits/00000000000000000002.inflight")
    java.nio.file.Files.writeString(inflight.toPath, "")
    assert(Merge.vacuum(spark, path) === 1L)
    assert(!new java.io.File(s"${path}_staging_123").exists())
    assert(inflight.exists()) // the reissue guard survives
    // the skipped id is visible: next commit is 3, not 2
    val c = Merge.upsert(spark, tx(("T2", "c2", "ADAGBP", 2.0)),
      path, keyCols, "price", "pair")
    assert(c === 3L)
    assert(readTable(path).size === 2)
  }

  test("compact merges small files, preserves rows + commit stamps, skips compact partitions") {
    val path = tmpDir("compact")
    // six single-row versioned upserts with distinct keys → one file per
    // append in pair=ADAGBP (the streaming micro-batch degradation)
    val commits = (1 to 6).map { i =>
      Merge.upsert(spark, tx((s"T$i", s"c$i", "ADAGBP", i.toDouble)),
        path, keyCols, "price", "pair")
    }
    // plus an already-compact partition that must not be touched
    Merge.upsert(spark, tx(("TX", "cx", "BTCUSD", 9.0)),
      path, keyCols, "price", "pair")
    val adaBefore = parquetFiles(s"$path/pair=ADAGBP")
    val btcBefore = parquetFiles(s"$path/pair=BTCUSD")
    assert(adaBefore.size === 6)
    val content = Merge.readTable(spark, path)
      .select("transaction_id", "price", Merge.commitCol)
      .as[(String, Double, Long)].collect().toSet
    Thread.sleep(20)
    val n = Merge.compact(spark, path, Seq("pair"), keyCols)
    assert(n === 6L) // only the fragmented partition's files
    assert(parquetFiles(s"$path/pair=ADAGBP").size === 1)
    assert(parquetFiles(s"$path/pair=BTCUSD") === btcBefore) // untouched
    // rows AND per-record commit stamps survive verbatim — incremental
    // pulls are compaction-invariant
    assert(Merge.readTable(spark, path)
      .select("transaction_id", "price", Merge.commitCol)
      .as[(String, Double, Long)].collect().toSet === content)
    assert(Merge.readSince(spark, path, commits(4))
      .select("transaction_id").as[String].collect().toSet === Set("T6", "TX"))
    // idempotent: a second pass finds nothing to do
    assert(Merge.compact(spark, path, Seq("pair"), keyCols) === 0L)
  }

  test("bulkInsert respects target file size at both extremes") {
    val path1 = tmpDir("bulkone")
    val rows = (1 to 4000).map(i =>
      (s"T$i", s"c$i", if (i % 2 == 0) "ADAGBP" else "BTCUSD", i.toDouble))
    val df = rows.toDF("transaction_id", "close_time", "pair", "price")
    // huge target → one range task → exactly one file per hive partition
    Merge.bulkInsert(df, path1, "pair", keyCols,
      targetFileBytes = Long.MaxValue)
    assert(parquetFiles(s"$path1/pair=ADAGBP").size === 1)
    assert(parquetFiles(s"$path1/pair=BTCUSD").size === 1)
    // tiny target → many range tasks → strictly more, bounded files;
    // range layout on (pair, key) keeps per-partition file counts near
    // tasks/2 rather than tasks (round-robin would hit every task)
    val path2 = tmpDir("bulkmany")
    Merge.bulkInsert(df, path2, "pair", keyCols, targetFileBytes = 16 * 1024)
    val n = parquetFiles(s"$path2/pair=ADAGBP").size +
      parquetFiles(s"$path2/pair=BTCUSD").size
    assert(n > 2)
    val planFiles = (df.queryExecution.optimizedPlan.stats.sizeInBytes /
      (16 * 1024)).toLong.toInt + 1
    // each range task writes at most one file per partition value it
    // holds; contiguous ranges mean ~one value per task (+1 boundary)
    assert(n <= planFiles + 2)
    assert(spark.read.parquet(path2).count() === 4000)
    // maxFiles clamps the task count even when the byte estimate is
    // huge relative to the target (the stats-unknown overflow guard)
    val path3 = tmpDir("bulkclamp")
    Merge.bulkInsert(df, path3, "pair", keyCols,
      targetFileBytes = 1, maxFiles = 4)
    val clamped = parquetFiles(s"$path3/pair=ADAGBP").size +
      parquetFiles(s"$path3/pair=BTCUSD").size
    assert(clamped <= 6) // ≤ maxFiles + partition boundary files
    assert(spark.read.parquet(path3).count() === 4000)
  }

  /** Every data file under `path` (skipping '_'/'.'-prefixed metadata at
    * any level) as table-relative path → file bytes — the byte-identical
    * table-state snapshot the rollback tests compare. */
  private def tableState(path: String): Map[String, Seq[Byte]] = {
    val root = new java.io.File(path)
    def walk(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.filterNot { f =>
        f.getName.startsWith("_") || f.getName.startsWith(".")
      }.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    walk(root).map { f =>
      root.toPath.relativize(f.toPath).toString ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq
    }.toMap
  }

  private def commitsFile(path: String, name: String): java.io.File =
    new java.io.File(s"$path/_graft_commits/$name")

  test("rollback restores byte-identical state after a mid-publish crash") {
    val path = tmpDir("rollcrash") + "/table"
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c2", "BTCUSD", 2.0)), path, keyCols, "price", "pair")
    Merge.upsert(spark, tx(("T3", "c3", "ADAGBP", 3.0)),
      path, keyCols, "price", "pair")
    val snapshot = tableState(path)
    // simulate commit 3 crashing between RETIRE and the end of PUBLISH,
    // replaying commitFiles' own mechanical steps: claim the id, record
    // the plan, retire a superseded file into the rollback dir, land
    // one of two replacement files, leave the other in staging
    assert(Timeline.claim(spark, path) === 3L)
    val retired = snapshot.keys.find(_.startsWith("pair=ADAGBP/")).get
    val rbDir = s"$path/_graft_rollback/00000000000000000003"
    new java.io.File(s"$rbDir/pair=ADAGBP").mkdirs()
    assert(new java.io.File(s"$path/$retired")
      .renameTo(new java.io.File(s"$rbDir/$retired")))
    val published = "pair=ADAGBP/part-00000-crash.c000.snappy.parquet"
    java.nio.file.Files.writeString(
      new java.io.File(s"$path/$published").toPath, "partial replacement")
    val staging = s"${path}_staging_777"
    new java.io.File(s"$staging/pair=ADAGBP").mkdirs()
    val unpublished = "pair=ADAGBP/part-00001-crash.c000.snappy.parquet"
    java.nio.file.Files.writeString(
      new java.io.File(s"$staging/$unpublished").toPath, "never landed")
    java.nio.file.Files.writeString(
      commitsFile(path, "00000000000000000003.plan").toPath,
      s"""{"commit_ts":3,"staging":"$staging",""" +
        s""""files_added":["$published","$unpublished"],""" +
        s""""files_removed":["$retired"]}""")
    Merge.rollback(spark, path, 3L)
    // the table is byte-identical to its pre-crash state
    assert(tableState(path) === snapshot)
    assert(readTable(path) === Seq(("T1", "c1", "ADAGBP", 1.0),
      ("T2", "c2", "BTCUSD", 2.0), ("T3", "c3", "ADAGBP", 3.0)).sorted)
    // scratch swept, claim tombstoned, plan and marker gone
    assert(!new java.io.File(staging).exists())
    assert(!new java.io.File(rbDir).exists())
    assert(commitsFile(path, "00000000000000000003.rolledback").exists())
    assert(!commitsFile(path, "00000000000000000003.inflight").exists())
    assert(!commitsFile(path, "00000000000000000003.plan").exists())
    // the timeline never saw commit 3, and its id is never reissued
    assert(Merge.commits(spark, path).select("commit_ts")
      .as[Long].collect().toSeq.sorted === Seq(1L, 2L))
    assert(Merge.upsert(spark, tx(("T4", "c4", "ADAGBP", 4.0)),
      path, keyCols, "price", "pair") === 4L)
  }

  test("rollback refuses a recorded commit, tombstones a claim-only crash") {
    val path = tmpDir("rollguard")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    val e = intercept[IllegalStateException](Merge.rollback(spark, path, 1L))
    assert(e.getMessage.contains("RECORDED"))
    intercept[IllegalArgumentException](Merge.rollback(spark, path, 9L))
    // a claim that crashed before its plan landed touched nothing:
    // rollback only tombstones the id
    assert(Timeline.claim(spark, path) === 2L)
    val before = tableState(path)
    Merge.rollback(spark, path, 2L)
    assert(tableState(path) === before)
    assert(commitsFile(path, "00000000000000000002.rolledback").exists())
    assert(Merge.upsert(spark, tx(("T2", "c2", "ADAGBP", 2.0)),
      path, keyCols, "price", "pair") === 3L)
  }

  test("rollback names the manual remedy when the plan is unreadable") {
    val path = tmpDir("rollcorrupt")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    assert(Timeline.claim(spark, path) === 2L)
    java.nio.file.Files.writeString(
      commitsFile(path, "00000000000000000002.plan").toPath,
      """{"commit_ts":2,"staging":""") // truncated mid-write
    val e = intercept[IllegalStateException](Merge.rollback(spark, path, 2L))
    assert(e.getMessage.contains("_graft_rollback"))
    assert(e.getMessage.contains("re-run rollback"))
    // sibling-plan remedy: deleting the .plan is safe (the marker
    // survives as the issued-trace for the tombstoning re-run)
    assert(e.getMessage.contains("delete"))
    // nothing was mutated and the claim survives for the retry
    assert(commitsFile(path, "00000000000000000002.inflight").exists())
    assert(!commitsFile(path, "00000000000000000002.rolledback").exists())
    // following the remedy actually tombstones the id
    assert(commitsFile(path, "00000000000000000002.plan").delete())
    Merge.rollback(spark, path, 2L)
    assert(commitsFile(path, "00000000000000000002.rolledback").exists())
    // legacy-format corruption: the plan IS the marker body, so the
    // remedy must warn against deleting the marker (the id's last
    // issued-trace) and direct truncation instead
    assert(Timeline.claim(spark, path) === 3L)
    // the claim went through Hadoop's checksummed local FS; raw writes
    // below bypass it, so drop the stale .crc sibling or reads fail on
    // the checksum, not the corruption under test
    commitsFile(path, ".00000000000000000003.inflight.crc").delete()
    java.nio.file.Files.writeString(
      commitsFile(path, "00000000000000000003.inflight").toPath,
      """{"commit_ts":3,"stag""") // damaged legacy body
    val e2 = intercept[IllegalStateException](Merge.rollback(spark, path, 3L))
    assert(e2.getMessage.contains("do NOT"))
    assert(e2.getMessage.contains("truncate"))
    // the remedy works: truncate the marker, re-run, tombstoned
    java.nio.file.Files.writeString(
      commitsFile(path, "00000000000000000003.inflight").toPath, "")
    Merge.rollback(spark, path, 3L)
    assert(commitsFile(path, "00000000000000000003.rolledback").exists())
  }

  test("claimFrom advances past issued ids instead of aborting") {
    val path = tmpDir("claimrace")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    // another writer claimed 2 (marker) and a third's 3 was rolled back
    // (tombstone only — the exact shape of a completed claim cleanup)
    java.nio.file.Files.writeString(
      commitsFile(path, "00000000000000000002.inflight").toPath, "")
    java.nio.file.Files.writeString(
      commitsFile(path, "00000000000000000003.rolledback").toPath, "")
    // the claim loop walks the collision chain: 2 collides, 3 is
    // tombstoned (nextCommit skips it, but claimFrom starting AT it
    // must too — the create itself succeeds only for unissued stems)
    assert(Timeline.claimFrom(spark, path, 2L) === 4L)
    assert(commitsFile(path, "00000000000000000004.inflight").exists())
  }

  test("multi-level partitions: versioned upsert, delete, compact round-trip") {
    val path = tmpDir("multilevel")
    def mtx(rows: (String, String, String, String, Double)*): DataFrame =
      rows.toDF("transaction_id", "close_time", "day", "pair", "price")
    val parts = Seq("day", "pair")
    val c1 = Merge.upsert(spark, mtx(
      ("T1", "c1", "2024-01-01", "ADAGBP", 1.0),
      ("T2", "c2", "2024-01-01", "BTCUSD", 2.0),
      ("T3", "c3", "2024-01-02", "ADAGBP", 3.0)), path, keyCols, "price", parts)
    // replace T1 in ITS (day, pair) leaf; same key in another day is a
    // different record and must survive untouched
    val c2 = Merge.upsert(spark, mtx(
      ("T1", "c1", "2024-01-01", "ADAGBP", 9.0),
      ("T1", "c1", "2024-01-02", "ADAGBP", 8.0)), path, keyCols, "price", parts)
    assert(c2 === c1 + 1)
    val all = spark.read.parquet(path)
      .select("transaction_id", "day", "pair", "price")
      .as[(String, String, String, Double)].collect().toSet
    assert(all === Set(
      ("T1", "2024-01-01", "ADAGBP", 9.0), ("T1", "2024-01-02", "ADAGBP", 8.0),
      ("T2", "2024-01-01", "BTCUSD", 2.0), ("T3", "2024-01-02", "ADAGBP", 3.0)))
    assert(new java.io.File(s"$path/day=2024-01-01/pair=ADAGBP").isDirectory)
    // delete one key from one leaf; the emptied leaf AND its emptied
    // day-level parent are both dropped
    Merge.delete(spark, mtx(("T2", "c2", "2024-01-01", "BTCUSD", 0.0)),
      path, keyCols, parts)
    assert(!new java.io.File(s"$path/day=2024-01-01/pair=BTCUSD").exists())
    assert(new java.io.File(s"$path/day=2024-01-01").exists())
    // fragment one leaf with single-row upserts, then compact only it
    (4 to 8).foreach { i =>
      Merge.upsert(spark, mtx(
        (s"T$i", s"c$i", "2024-01-02", "ADAGBP", i.toDouble)),
        path, keyCols, "price", parts)
    }
    val otherLeaf = parquetFiles(s"$path/day=2024-01-01/pair=ADAGBP")
    val content = Merge.readTable(spark, path)
      .select("transaction_id", "day", "pair", "price", Merge.commitCol)
      .as[(String, String, String, Double, Long)].collect().toSet
    val n = Merge.compact(spark, path, parts, keyCols,
      targetFileBytes = 128L * 1024 * 1024, maxFiles = 1 << 20)
    assert(n >= 6L)
    assert(parquetFiles(s"$path/day=2024-01-02/pair=ADAGBP").size === 1)
    assert(parquetFiles(s"$path/day=2024-01-01/pair=ADAGBP") === otherLeaf)
    assert(Merge.readTable(spark, path)
      .select("transaction_id", "day", "pair", "price", Merge.commitCol)
      .as[(String, String, String, Double, Long)].collect().toSet === content)
  }

  test("rolling back a crashed FIRST commit leaves no table husk behind") {
    val path = tmpDir("rollfirst") + "/table"
    // the very first versioned commit crashes mid-publish: one file (and
    // its partition dir) landed, the plan is recorded, nothing to retire
    assert(Timeline.claim(spark, path) === 1L)
    val published = "pair=ADAGBP/part-00000-crash.c000.snappy.parquet"
    new java.io.File(s"$path/pair=ADAGBP").mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(s"$path/$published").toPath, "partial first commit")
    val staging = s"${path}_staging_42"
    new java.io.File(staging).mkdirs()
    java.nio.file.Files.writeString(
      commitsFile(path, "00000000000000000001.plan").toPath,
      s"""{"commit_ts":1,"staging":"$staging",""" +
        s""""files_added":["$published"],"files_removed":[]}""")
    Merge.rollback(spark, path, 1L)
    // the emptied partition dir is swept with the file it held — a
    // husk would make the next write see an "existing" zero-file table
    // and die on schema inference
    assert(!new java.io.File(s"$path/pair=ADAGBP").exists())
    assert(Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair") === 2L)
    assert(readTable(path) === Seq(("T1", "c1", "ADAGBP", 1.0)))
  }

  test("rollback honors the legacy plan-in-marker-body format") {
    val path = tmpDir("rolllegacy")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    val snapshot = tableState(path)
    // an old-engine crashed commit: the plan JSON is the MARKER body
    // (no .plan sibling existed then) and one replacement file landed
    val retired = snapshot.keys.find(_.startsWith("pair=ADAGBP/")).get
    val rbDir = s"$path/_graft_rollback/00000000000000000002"
    new java.io.File(s"$rbDir/pair=ADAGBP").mkdirs()
    assert(new java.io.File(s"$path/$retired")
      .renameTo(new java.io.File(s"$rbDir/$retired")))
    val published = "pair=ADAGBP/part-00000-legacy.c000.snappy.parquet"
    java.nio.file.Files.writeString(
      new java.io.File(s"$path/$published").toPath, "legacy replacement")
    val staging = s"${path}_staging_9"
    new java.io.File(staging).mkdirs()
    java.nio.file.Files.writeString(
      commitsFile(path, "00000000000000000002.inflight").toPath,
      s"""{"commit_ts":2,"staging":"$staging",""" +
        s""""files_added":["$published"],"files_removed":["$retired"]}""")
    Merge.rollback(spark, path, 2L)
    // treated as a full plan, not a claim-only tombstone: the mutation
    // is reversed, not abandoned
    assert(tableState(path) === snapshot)
    assert(!new java.io.File(rbDir).exists())
    assert(commitsFile(path, "00000000000000000002.rolledback").exists())
    assert(!commitsFile(path, "00000000000000000002.inflight").exists())
  }

  test("concurrent disjoint versioned upserts both land with distinct ids") {
    val path = tmpDir("occ") + "/table"
    Merge.upsert(spark, tx(("T0", "c0", "SEED", 0.5)), path,
      keyCols, "price", "pair")
    // two writers racing on DISJOINT partitions: the exclusive-create
    // claim serializes id allocation (the loser's failed create walks
    // to the next id), their file movements never intersect, and the
    // schema-meta union retries through the delete+rename race — so
    // both commits land. This is the engine's de-facto optimistic
    // concurrency: non-conflicting writers succeed; conflicting ones
    // abort on the vanished-superseded-file check (next spec) with a
    // mechanical rollback.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(Merge.upsert(spark,
      tx(("TA", "c1", "ADAGBP", 1.0)), path, keyCols, "price", "pair"))
    val fb = Future(Merge.upsert(spark,
      tx(("TB", "c1", "BTCUSD", 2.0)), path, keyCols, "price", "pair"))
    val ca = Await.result(fa, 180.seconds)
    val cb = Await.result(fb, 180.seconds)
    assert(ca !== cb, "exclusive claim must never share an id")
    assert(readTable(path) === Seq(("T0", "c0", "SEED", 0.5),
      ("TA", "c1", "ADAGBP", 1.0), ("TB", "c1", "BTCUSD", 2.0)).sorted)
    assert(Merge.commits(spark, path).count() === 3L)
    // the head snapshot replays to exactly the live table
    val last = math.max(ca, cb)
    assert(Merge.readAsOf(spark, path, last)
      .select("transaction_id", "close_time", "pair", "price")
      .as[(String, String, String, Double)].collect().toSeq.sorted ===
      readTable(path))
  }

  test("claim ids stay unique under a many-way race from one candidate") {
    val path = tmpDir("claimrace") + "/table"
    Merge.fsFor(spark, path).mkdirs(Timeline.dir(path))
    // 16 claimants all starting at candidate 1 — maximal contention on
    // the exclusive create; every id must be claimed by exactly one
    // (this is the test that catches a check-then-truncate "exclusive"
    // create, which lets two racers share an id)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val ids = Await.result(Future.sequence(
      (1 to 16).toList.map(_ => Future(Timeline.claimFrom(spark, path, 1L)))),
      120.seconds)
    assert(ids.distinct.size === 16, s"shared ids in ${ids.sorted}")
    assert(ids.sorted === (1L to 16L).toList)
  }

  test("a vanished superseded file fails the commit loudly (single-writer)") {
    val path = tmpDir("singlewriter")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    // a concurrent merge retired this file first — exactly the state a
    // second writer violating the single-writer contract produces
    val ghost = s"$path/pair=ADAGBP/part-retired-by-other-writer.parquet"
    val e = intercept[RuntimeException] {
      Merge.commitFiles(spark, TableState.load(spark, path),
        tx(("T1", "c1", "ADAGBP", 2.0)), Seq("pair"),
        supersededFiles = Seq(ghost), touched = Nil,
        dropEmptied = false, cts = Timeline.claim(spark, path))
    }
    // fails BEFORE any replacement lands, keeps the staged copy, and
    // names the contract being violated
    assert(e.getMessage.contains("staged merge result kept"))
    assert(e.getCause.getMessage.contains("concurrent writer"))
    assert(e.getCause.getMessage.contains("single-writer"))
    assert(readTable(path) === Seq(("T1", "c1", "ADAGBP", 1.0)))
  }

  test("clusterZOrder preserves rows + stamps and beats linear layout pruning") {
    val path = tmpDir("zorder")
    // a 64x64 uniform grid in (a, b), one hive partition
    val grid = (for (a <- 0 until 64; b <- 0 until 64)
      yield (s"T${a}_$b", "c", "G", a.toLong, b.toLong, 1.0))
      .toDF("transaction_id", "close_time", "pair", "a", "b", "price")
    // linear layout baseline: 16 files range-laid on (a, b) — sorted by
    // a first, so EVERY file spans the full b range
    Merge.bulkInsert(grid, path, Seq("pair"), Seq("a", "b"),
      targetFileBytes = 1, maxFiles = 16)
    def filesMatching(pred: org.apache.spark.sql.Column): Long =
      spark.read.parquet(path).filter(pred)
        .select(input_file_name()).distinct().count()
    val totalLinear = filesMatching(lit(true))
    val linearHit = filesMatching(col("b") < 8)
    assert(linearHit === totalLinear) // the b-slice touches every file
    val content = spark.read.parquet(path)
      .select("transaction_id", "a", "b", "price")
      .as[(String, Long, Long, Double)].collect().toSet
    val n = Merge.clusterZOrder(spark, path, Seq("pair"), Seq("a", "b"),
      targetFileBytes = 1, maxFiles = 16)
    assert(n === totalLinear)
    // content invariance (the q24 oracle's contract, asserted here too)
    assert(spark.read.parquet(path)
      .select("transaction_id", "a", "b", "price")
      .as[(String, Long, Long, Double)].collect().toSet === content)
    // the curve packs files into hyper-rectangles: the same b-slice now
    // touches only the files whose b-range intersects it — strictly
    // fewer than linear's all-of-them, by at least 2x on this grid
    val zHit = filesMatching(col("b") < 8)
    assert(zHit * 2 <= linearHit,
      s"z-order pruning regressed: $zHit of ${filesMatching(lit(true))} " +
        s"files hit vs linear $linearHit")
    // degenerate dimensions don't break the curve
    assert(Merge.clusterZOrder(spark, path, Seq("pair"),
      Seq("a", "price"), targetFileBytes = 1, maxFiles = 4) > 0L)
  }

  test("clusterZOrder keeps commit stamps (incremental pulls invariant)") {
    val path = tmpDir("zstamps")
    val c1 = Merge.upsert(spark,
      tx(("T1", "c1", "ADAGBP", 1.0), ("T2", "c2", "ADAGBP", 2.0)),
      path, keyCols, "price", "pair")
    Merge.upsert(spark, tx(("T3", "c3", "BTCUSD", 3.0)),
      path, keyCols, "price", "pair")
    val before = Merge.readTable(spark, path)
      .select("transaction_id", "price", Merge.commitCol)
      .as[(String, Double, Long)].collect().toSet
    Merge.clusterZOrder(spark, path, Seq("pair"),
      Seq("price", Merge.commitCol))
    assert(Merge.readTable(spark, path)
      .select("transaction_id", "price", Merge.commitCol)
      .as[(String, Double, Long)].collect().toSet === before)
    assert(Merge.readSince(spark, path, c1)
      .select("transaction_id").as[String].collect().toSeq === Seq("T3"))
  }

  test("commits() ignores markers, plans, tombstones and foreign junk") {
    val path = tmpDir("cleantimeline")
    Merge.upsert(spark, tx(("T1", "c1", "ADAGBP", 1.0)),
      path, keyCols, "price", "pair")
    // a crashed versioned commit's full residue (its plan carries a
    // commit_ts and would otherwise surface as a phantom row), plus a
    // rolled-back tombstone and an editor backup
    java.nio.file.Files.writeString(
      commitsFile(path, "00000000000000000002.inflight").toPath, "")
    java.nio.file.Files.writeString(
      commitsFile(path, "00000000000000000002.plan").toPath,
      """{"commit_ts":2,"staging":"/x","files_added":[],"files_removed":[]}""")
    java.nio.file.Files.writeString(
      commitsFile(path, "00000000000000000003.rolledback").toPath, "")
    java.nio.file.Files.writeString(
      commitsFile(path, "notes.txt").toPath, """{"commit_ts":99}""")
    // even a .json extension doesn't make junk a commit: only strictly
    // numeric stems are timeline entries
    java.nio.file.Files.writeString(
      commitsFile(path, "backup.json").toPath, """{"commit_ts":98}""")
    assert(Merge.commits(spark, path).select("commit_ts")
      .as[Long].collect().toSeq === Seq(1L))
  }

  test("an EMPTY batch no-ops identically on both layouts: no " +
      "table-scoped merge, no spurious timeline commit (upsert, " +
      "insertOverwrite, delete)") {
    def commitCount(path: String): Long =
      Merge.commits(spark, path).count()
    def run(partitionCols: Seq[String]): Unit = {
      val path = tmpDir(s"graft_r14_empty_${partitionCols.size}_")
      Merge.upsert(spark,
        tx(("T1", "2024-01-01", "ADAGBP", 1.0),
           ("T2", "2024-01-02", "ADAGBP", 2.0)),
        path, keyCols, "price", partitionCols)
      val before = readTable(path)
      val commits = commitCount(path)
      val empty = tx().filter(lit(false))
      Merge.upsert(spark, empty, path, keyCols, "price", partitionCols)
      Merge.insertOverwrite(spark, empty, path, keyCols, "price",
        partitionCols)
      Merge.delete(spark, empty.select("transaction_id", "close_time"),
        path, keyCols, partitionCols)
      assert(readTable(path) === before,
        s"an empty write mutated the table (partitionCols=$partitionCols)")
      assert(commitCount(path) === commits,
        "an empty write recorded a spurious commit " +
          s"(partitionCols=$partitionCols)")
    }
    run(Seq("close_time")) // partitioned: the pre-existing contract
    run(Nil)               // unpartitioned: must no-op IDENTICALLY
  }
}
