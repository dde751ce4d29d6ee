package graft.merge

import java.sql.{Date, Timestamp}

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The hive partition path codec: what [[Merge.partitionRelDir]] writes,
  * [[Merge.partitionsOf]] reads back as the values Spark reads; the
  * writes that take their touched partitions from file paths record
  * the timeline strings a distinct collect recorded, with fewer jobs;
  * and a MOR snapshot plan builds without a job. */
class PartitionPathSpec extends SparkSpec {
  import spark.implicits._

  private val tricky = "a/b=c%d e"
  private val typed: Seq[(DataType, Any)] = Seq(
    StringType -> tricky,
    IntegerType -> 42,
    DateType -> Date.valueOf("2024-02-29"),
    TimestampType -> Timestamp.valueOf("2024-01-01 10:30:00.123456"),
    DecimalType(10, 2) -> new java.math.BigDecimal("12.50"))

  private def fileIn(dir: String): String =
    if (dir.isEmpty) "part-0.parquet" else s"$dir/part-0.parquet"

  test("partitionsOf reads back what partitionRelDir writes: string, int, " +
      "date, timestamp, decimal and null") {
    typed.foreach { case (dt, v) =>
      val schema = StructType(Seq(StructField("c", dt)))
      Seq(v, null).foreach { x =>
        val file = fileIn(Merge.partitionRelDir(Seq("c"), Seq(x)))
        assert(Merge.partitionsOf(Seq(file), Seq("c"), schema) === Seq(Seq(x)),
          s"$dt $x via $file")
      }
    }
    // one multi-level tuple, under a namespace dir like `_graft_deltas`
    val cols = typed.indices.map(i => s"c$i")
    val schema = StructType(cols.zip(typed).map { case (c, (dt, _)) =>
      StructField(c, dt) })
    val tuple = typed.map(_._2)
    val file = "_graft_deltas/" + fileIn(Merge.partitionRelDir(cols, tuple))
    assert(Merge.partitionSegments(file) === cols.zip(tuple.map {
      case d: Date => d.toString
      case _: Timestamp => "2024-01-01 10:30:00.123456"
      case x => x.toString
    }))
    assert(Merge.partitionsOf(Seq(file, file), cols, schema) === Seq(tuple))
    // an unpartitioned table is one empty-tuple partition, files or not
    assert(Merge.partitionsOf(Nil, Nil, schema) === Seq(Seq.empty))
  }

  test("partitionsOf agrees with Spark's own read of a partitioned write") {
    val cols = typed.indices.map(i => s"c$i")
    val schema = StructType(cols.zip(typed).map { case (c, (dt, _)) =>
      StructField(c, dt) } :+ StructField("n", IntegerType))
    val rows = Seq(Row.fromSeq(typed.map(_._2) :+ 1),
      Row.fromSeq(typed.map(_ => null) :+ 2))
    val dir = tmpDir("partition_codec_")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.mode("overwrite").partitionBy(cols: _*).parquet(dir)
    val fs = Merge.fsFor(spark, dir)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    val files = Merge.listDataStatuses(fs, root)
      .map(f => Merge.relativize(root, f.getPath))
    val read = spark.read.schema(schema).parquet(dir)
      .select(cols.map(org.apache.spark.sql.functions.col): _*)
      .distinct().collect().map(_.toSeq).toSet
    assert(Merge.partitionsOf(files, cols, schema).toSet === read)
  }

  private val keyCols = Seq("k")
  private val partCols = Seq("d", "ts")
  private val (d1, t1) = ("2024-01-01", "2024-01-01 10:30:00")
  private val (d2, t2) = ("2024-01-02", "2024-01-02 00:00:00")
  private val p1 = s"$d1/$t1.0"
  private val p2 = s"$d2/$t2.0"

  /** A batch as ingest sees one: read from parquet files. */
  private def rows(rs: (String, String, String, Double)*): DataFrame = {
    val dir = tmpDir("partition_batch_")
    rs.map { case (k, d, t, v) => (k, Date.valueOf(d), Timestamp.valueOf(t), v) }
      .toDF("k", "d", "ts", "v").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def recorded(path: String): Seq[String] =
    Timeline.records(spark, path).map(_.partitions)

  /** MOR upsert (first: the staged base commit of a first versioned
    * write), MOR upsert, MOR delete and MOR compact on a date/timestamp
    * partitioned table; a first COW `upsertVersioned`; a `bootstrap` of
    * a plain layout. Returns each write's job count and table paths. */
  private def fiveWrites(): (Map[String, Int], String, String, String) = {
    val both = rows(("k1", d1, t1, 1.0), ("k2", d2, t2, 2.0))
    val update = rows(("k1", d1, t1, 3.0))
    val gone = rows(("k2", d2, t2, 0.0)).select("k", "d", "ts")
    val mor = tmpDir("partition_mor_")
    val first = jobsOf(MorTable.upsert(spark, both, mor, keyCols, "v",
      partCols))
    val upsert = jobsOf(MorTable.upsert(spark, update, mor, keyCols, "v",
      partCols))
    val delete = jobsOf(MorTable.delete(spark, gone, mor))
    val compact = jobsOf(MorTable.compact(spark, mor))
    val cow = tmpDir("partition_cow_")
    val cowFirst = jobsOf(Merge.upsert(spark, both, cow, keyCols,
      "v", partCols))
    val plain = tmpDir("partition_boot_")
    both.write.mode("overwrite").partitionBy(partCols: _*).parquet(plain)
    val boot = jobsOf(Merge.bootstrap(spark, plain, partCols))
    val merged = tmpDir("partition_merge_")
    Merge.upsert(spark, both, merged, keyCols, "v", partCols)
    val merge = jobsOf(Merge.mergeInto(spark, update, merged, keyCols, "v",
      partCols))
    (Map("mor first upsert" -> first, "mor upsert" -> upsert,
      "mor delete" -> delete, "mor compact" -> compact,
      "first upsertVersioned" -> cowFirst, "bootstrap" -> boot,
      "mergeInto" -> merge),
      mor, cow, plain)
  }

  test("writes over a date/timestamp partition record the timeline " +
      "partition strings a distinct collect of their rows records") {
    val (_, mor, cow, plain) = fiveWrites()
    assert(recorded(mor) === Seq(s"$p1,$p2", p1, p2, s"$p1,$p2"))
    assert(recorded(cow) === Seq(s"$p1,$p2"))
    assert(recorded(plain) === Seq(s"$p1,$p2"))
    assert(MorTable.read(spark, mor).select("k", "v").as[(String, Double)]
      .collect().toSeq === Seq(("k1", 3.0)))
  }

  test("a MOR write records its partitions at the batch's types; an " +
      "empty string records the directory it is stored under") {
    val path = tmpDir("partition_types_")
    MorTable.upsert(spark, rows(("k1", d1, t1, 1.0)), path, keyCols, "v",
      partCols)
    // the table stores date/timestamp; this batch carries them as text
    val asText = Seq(("k1", d1, t1, 2.0)).toDF("k", "d", "ts", "v")
    MorTable.upsert(spark, asText, path, keyCols, "v", partCols)
    MorTable.delete(spark, asText.select("k", "d", "ts"), path)
    assert(recorded(path) === Seq(p1, s"$d1/$t1", s"$d1/$t1"))
    // "" is stored under __HIVE_DEFAULT_PARTITION__, the directory of a
    // null, so the path cannot tell the two apart: the timeline records
    // the directory (a distinct collect of the batch recorded "")
    val empty = tmpDir("partition_empty_")
    MorTable.upsert(spark, Seq(("k1", "", 1.0), ("k2", "x", 1.0))
      .toDF("k", "p", "v"), empty, keyCols, "v", Seq("p"))
    MorTable.upsert(spark, Seq(("k1", "", 2.0)).toDF("k", "p", "v"), empty,
      keyCols, "v", Seq("p"))
    MorTable.delete(spark, Seq(("k1", "")).toDF("k", "p"), empty)
    assert(recorded(empty) === Seq("__HIVE_DEFAULT_PARTITION__,x",
      "__HIVE_DEFAULT_PARTITION__", "__HIVE_DEFAULT_PARTITION__"))
  }

  test("each write that takes its partitions from file paths runs fewer " +
      "jobs than a distinct collect would") {
    val (jobs, _, _, _) = fiveWrites()
    info(jobs.toSeq.sorted.map { case (w, n) => s"$w: $n" }.mkString(", "))
    // each write's jobs when it collected its partitions with a
    // distinct job (measured on the same batches)
    val withCollect = Map("mor first upsert" -> 5, "mor upsert" -> 4,
      "mor delete" -> 4, "mor compact" -> 4, "first upsertVersioned" -> 5,
      "bootstrap" -> 6)
    withCollect.foreach { case (w, n) =>
      assert(jobs(w) < n, s"$w ran ${jobs(w)} jobs")
    }
    // mergeInto reads its partitions off the keyed write's key collect,
    // one job as the distinct collect was: 13 jobs either way
    assert(jobs("mergeInto") <= 13, s"mergeInto ran ${jobs("mergeInto")} jobs")
  }

  test("building a MOR snapshot plan with live deltas runs no job") {
    val path = tmpDir("partition_plan_")
    MorTable.upsert(spark, rows(("k1", d1, t1, 1.0), ("k2", d2, t2, 2.0)),
      path, keyCols, "v", partCols)
    val c2 = MorTable.upsert(spark, rows(("k1", d1, t1, 3.0)), path,
      keyCols, "v", partCols)
    MorTable.delete(spark, rows(("k2", d2, t2, 0.0)).select("k", "d", "ts"),
      path)
    assert(MorTable.hasLiveDeltas(spark, path))
    lazy val current = MorTable.read(spark, path)
    lazy val asOf = MorTable.readAsOf(spark, path, c2)
    assert(jobsOf(current) === 0, "planning MorTable.read ran a job")
    assert(jobsOf(asOf) === 0, "planning MorTable.readAsOf ran a job")
    assert(current.select("k", "v").as[(String, Double)].collect().toSeq ===
      Seq(("k1", 3.0)))
    assert(asOf.select("k", "v").as[(String, Double)].collect().toSeq
      .sorted === Seq(("k1", 3.0), ("k2", 2.0)))
  }
}
