package graft.merge

import scala.jdk.CollectionConverters._

import graft.{FaultFs, SparkSpec}
import org.apache.spark.serializer.{JavaSerializer, KryoSerializer}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** The keyed COW write plan: one key collect, one probe of only the
  * touched partition directories, one staged write. Pins its job count,
  * its listing footprint, its driver-side key equality against
  * Spark's grouping, its empty-batch no-op, its cache ownership, a
  * batch typed unlike the table and the serialized form of its
  * broadcast key set; and every keyed operation on an
  * unpartitioned table against the same operation on a one-partition
  * table. */
class KeyedWriteSpec extends SparkSpec {
  import spark.implicits._

  FaultFs.install(spark)

  private val keyCols = Seq("transaction_id", "close_time")
  private val pairs = Seq("ADAGBP", "BTCUSD", "ETHEUR", "XRPUSD")

  /** Orders `ids`, spread over the four pairs in turn. */
  private def orders(ids: Seq[Int], price: Double = 1.0): DataFrame =
    ids.map(i => (s"T$i", "2024-01-01", pairs(i % pairs.size), price + i))
      .toDF("transaction_id", "close_time", "pair", "price")

  /** A 4-partition table with a recorded key spec. */
  private def fourPartitions(path: String): Unit =
    Merge.upsert(spark, orders(0 until 40), path, keyCols, "price", "pair")

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  test("a one-row upsert into a 4-partition keyed table runs at most 3 " +
      "Spark jobs, new key or re-delivered") {
    val path = tmpDir("keyed_jobs_")
    fourPartitions(path)
    val insert = jobsOf(Merge.upsert(spark, orders(Seq(41)), path, keyCols,
      "price", "pair"))
    assert(insert <= 3, s"a one-row insert ran $insert jobs")
    val update = jobsOf(Merge.upsert(spark, orders(Seq(5), 100.0), path,
      keyCols, "price", "pair"))
    assert(update <= 3, s"a one-row update ran $update jobs")
    assert(Merge.readTable(spark, path).count() === 41)
    assert(Merge.readTable(spark, path)
      .filter($"transaction_id" === "T5").select("price").as[Double]
      .collect().toSeq === Seq(105.0))
  }

  test("a one-row upsert lists no partition directory but the one it " +
      "touches") {
    val path = FaultFs.tmpDir("keyed_lists_") + "/table"
    fourPartitions(path)
    val local = new org.apache.hadoop.fs.Path(path).toUri.getPath
    FaultFs.reset()
    // T6 lands in pairs(6 % 4) = ETHEUR
    Merge.upsert(spark, orders(Seq(6), 50.0), path, keyCols, "price", "pair")
    pairs.foreach { p =>
      val lists = FaultFs.count("list")(_ == s"$local/pair=$p")
      if (p == "ETHEUR") assert(lists >= 1, "the touched partition was not listed")
      else assert(lists === 0, s"the upsert listed untouched partition $p")
    }
    assert(Merge.readTable(spark, path).count() === 40)
  }

  // Repeated keys of each type Spark groups specially: binary compares
  // by content, every NaN is one key, -0.0 is 0.0, null is null. Each
  // group's max precombine is unique, so the winner is determined.
  private val nanBits = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
  private val repeatCases: Seq[(String, DataType, Seq[Any])] = Seq(
    ("string", StringType, Seq("a", "a", null, null, "b", "")),
    ("binary", BinaryType, Seq(Array[Byte](1, 2), Array[Byte](1, 2), null,
      Array[Byte](), Array[Byte](), Array[Byte](3))),
    ("double", DoubleType, Seq(Double.NaN, nanBits, -0.0, 0.0, null, 1.5)))

  private val generated = Map("spark.sql.codegen.fallback" -> "false",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
  private val interpreted = Map("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  private def withConf(conf: Map[String, String])(body: => Unit): Unit = {
    val prior = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  repeatCases.foreach { case (name, dt, keys) =>
    test(s"repeated $name keys dedupe exactly as precombineDedup does, " +
        "and a second write replaces them") {
      val schema = StructType(Seq(StructField("k", dt),
        StructField("part", StringType), StructField("pre", LongType)))
      def batch(base: Long): DataFrame = spark.createDataFrame(
        java.util.Arrays.asList(keys.zipWithIndex.map { case (k, i) =>
          Row(k, "p", base + i) }: _*), schema)
      val path = tmpDir(s"keyed_repeat_${name}_")
      val expected = rowsOf(Merge.precombineDedup(batch(0), Seq("k", "part"),
        "pre"))
      Merge.upsert(spark, batch(0), path, Seq("k"), "pre", Seq("part"))
      assert(rowsOf(Merge.readTable(spark, path).select("k", "part", "pre")) ===
        expected)
      // the same keys again, through the generated key probe (with no
      // fallback) and then the interpreted one: each must find every
      // stored key (no duplicate survives) and the batch wins
      Seq(generated, interpreted).zip(Seq(100L, 200L)).foreach {
        case (conf, base) =>
          withConf(conf) {
            Merge.upsert(spark, batch(base), path, Seq("k"), "pre", Seq("part"))
          }
          assert(rowsOf(Merge.readTable(spark, path)
            .select("k", "part", "pre")) === rowsOf(Merge.precombineDedup(
            batch(base), Seq("k", "part"), "pre")), conf)
      }
    }
  }

  test("an empty batch is a no-op on both layouts: one job, no file " +
      "touched, no timeline record") {
    Seq(Seq("pair"), Nil).foreach { partitionCols =>
      val path = tmpDir(s"keyed_empty_${partitionCols.size}_")
      Merge.upsert(spark, orders(0 until 8), path, keyCols, "price",
        partitionCols)
      val local = java.nio.file.Paths.get(path)
      def listing: Seq[String] = {
        val s = java.nio.file.Files.walk(local)
        try s.iterator().asScala.map(p => local.relativize(p).toString)
          .toSeq.sorted
        finally s.close()
      }
      val before = listing
      val empty = orders(Nil)
      val jobs = jobsOf {
        Merge.upsert(spark, empty, path, keyCols, "price", partitionCols)
        Merge.upsertOrdered(spark, empty, path, keyCols, "price",
          partitionCols)
        Merge.insertOverwrite(spark, empty, path, keyCols, "price",
          partitionCols)
        Merge.delete(spark, empty, path, keyCols, partitionCols)
      }
      assert(jobs <= 4, s"four empty writes ran $jobs jobs ($partitionCols)")
      assert(listing === before, s"an empty write touched files ($partitionCols)")
      // the set-up upsert's commit only
      assert(Merge.commits(spark, path).count() === 1)
      assert(Merge.readTable(spark, path).count() === 8)
    }
  }

  test("a batch the caller persisted stays cached; a batch it did not " +
      "is not left cached") {
    val path = tmpDir("keyed_cache_")
    fourPartitions(path)
    val cached = orders(Seq(3, 50)).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      cached.count()
      Merge.upsert(spark, cached, path, keyCols, "price", "pair")
      Merge.insertOverwrite(spark, cached, path, keyCols, "price", Seq("pair"))
      Merge.delete(spark, cached, path, keyCols, "pair")
      // storageLevel is the cache manager's entry for this plan
      assert(cached.storageLevel === StorageLevel.MEMORY_AND_DISK,
        "a keyed write dropped the caller's cache")
    } finally cached.unpersist()
    val plain = orders(Seq(4, 51))
    Merge.upsert(spark, plain, path, keyCols, "price", "pair")
    assert(plain.storageLevel === StorageLevel.NONE,
      "a keyed write left its own cache behind")
  }

  test("an upsert on a timestamp-partitioned table replaces the stored " +
      "row (partition dirs render as Spark writes them)") {
    val path = tmpDir("keyed_ts_")
    def batch(v: Double): DataFrame =
      Seq(("k1", java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), v))
        .toDF("k", "ts", "v")
    Merge.upsert(spark, batch(1.0), path, Seq("k"), "v", Seq("ts"))
    Merge.upsert(spark, batch(2.0), path, Seq("k"), "v", Seq("ts"))
    assert(Merge.readTable(spark, path).select("v").as[Double].collect()
      .toSeq === Seq(2.0))
  }

  test("a batch whose key and partition types differ from the table's " +
      "upserts and deletes at the stored types in at most 3 jobs") {
    val path = tmpDir("keyed_typed_")
    val at = "2024-01-01 10:30:00"
    // stored: a long key and a string partition
    Merge.upsert(spark, Seq((1L, at, 1.0), (2L, at, 2.0))
      .toDF("k", "d", "v"), path, Seq("k"), "v", Seq("d"))
    // the batch: an int key and the same partition as a timestamp
    def batch(k: Int, v: Double): DataFrame =
      Seq((k, at, v)).toDF("k", "d", "v").withColumn("d", to_timestamp($"d"))
    def stored: Seq[(Long, String, Double)] = Merge.readTable(spark, path)
      .select("k", "d", "v").as[(Long, String, Double)].collect().toSeq
      .sortBy(_._1)
    val jobs = jobsOf(Merge.upsert(spark, batch(1, 10.0), path,
      Seq("k"), "v", Seq("d")))
    assert(jobs <= 3, s"a one-row retyped upsert ran $jobs jobs")
    assert(stored === Seq((1L, at, 10.0), (2L, at, 2.0)))
    Merge.delete(spark, batch(2, 0.0).select("k", "d"), path,
      Seq("k"), Seq("d"))
    assert(stored === Seq((1L, at, 10.0)))
    // a keyed write records its partitions as the batch's values render
    val rendered = batch(0, 0.0).select("d").as[java.sql.Timestamp].head()
      .toString
    assert(Timeline.records(spark, path).map(_.partitions) ===
      Seq(at, rendered, rendered))
  }

  test("the broadcast key set answers the same after Java and Kryo " +
      "serialization") {
    val project = UnsafeProjection.create(Array[DataType](LongType, StringType))
    def key(k: Long, p: String): UnsafeRow =
      project(InternalRow(k, Option(p).map(UTF8String.fromString).orNull))
        .copy()
    val keys = new Merge.KeySet(2, Seq(key(1, "a"), key(2, null), key(1, "a")))
    val conf = spark.sparkContext.getConf
    Seq(new JavaSerializer(conf), new KryoSerializer(conf)).foreach { s =>
      val ser = s.newInstance()
      val back = ser.deserialize[Merge.KeySet](ser.serialize(keys))
      assert(back.size === 2, s)
      assert(back.contains(key(1, "a")) && back.contains(key(2, null)), s)
      assert(!back.contains(key(1, "b")) && !back.contains(key(2, "")), s)
    }
  }

  test("an injected stat or mkdirs fault fails the upsert before the " +
      "table changes") {
    val path = FaultFs.tmpDir("keyed_fault_") + "/table"
    fourPartitions(path)
    val before = rowsOf(Merge.readTable(spark, path))
    intercept[Exception](FaultFs.failing("stat", "pair=ETHEUR$") {
      Merge.upsert(spark, orders(Seq(6), 50.0), path, keyCols, "price", "pair")
    })
    intercept[Exception](FaultFs.failing("mkdirs", "_staging_") {
      Merge.upsert(spark, orders(Seq(6), 50.0), path, keyCols, "price", "pair")
    })
    assert(rowsOf(Merge.readTable(spark, path)) === before)
    assert(FaultFs.count("stat")(_.endsWith("pair=ETHEUR")) > 0)
    assert(FaultFs.count("mkdirs")(_.contains("_staging_")) > 0)
  }

  // The same two-step operation on an unpartitioned table and on a
  // table whose one partition column is constant must read back the
  // same rows: the second write of each finds its partition directory
  // (the table root, when unpartitioned).
  private def part(df: DataFrame): DataFrame = df.withColumn("p", lit("x"))
  private val layoutCases: Seq[(String, (String, Seq[String]) => DataFrame)] =
    Seq(
      "upsert" -> { (path, pc) =>
        Merge.upsert(spark, part(orders(0 until 6)), path, keyCols, "price", pc)
        Merge.upsert(spark, part(orders(4 until 9, 10.0)), path, keyCols,
          "price", pc)
        Merge.readTable(spark, path)
      },
      "delete" -> { (path, pc) =>
        Merge.upsert(spark, part(orders(0 until 6)), path, keyCols, "price", pc)
        Merge.delete(spark, part(orders(Seq(1))), path, keyCols, pc)
        Merge.delete(spark, part(orders(Seq(2, 3))), path, keyCols, pc)
        Merge.readTable(spark, path)
      },
      "insertOverwrite" -> { (path, pc) =>
        Merge.insertOverwrite(spark, part(orders(0 until 6)), path, keyCols,
          "price", pc)
        Merge.insertOverwrite(spark, part(orders(3 until 5, 7.0)), path,
          keyCols, "price", pc)
        Merge.readTable(spark, path)
      },
      "MOR compact" -> { (path, pc) =>
        MorTable.upsert(spark, part(orders(0 until 6)), path, keyCols,
          "price", pc)
        MorTable.upsert(spark, part(orders(4 until 8, 3.0)), path, keyCols,
          "price", pc)
        MorTable.compact(spark, path)
        MorTable.upsert(spark, part(orders(Seq(0, 9), 5.0)), path, keyCols,
          "price", pc)
        MorTable.compact(spark, path)
        MorTable.read(spark, path)
      })

  layoutCases.foreach { case (name, op) =>
    test(s"$name twice on an unpartitioned table matches the partitioned " +
        "result") {
      def run(pc: Seq[String]): Seq[String] =
        rowsOf(op(tmpDir(s"keyed_layout_${pc.size}_"), pc)
          .select("transaction_id", "close_time", "pair", "price", "p"))
      val partitioned = run(Seq("p"))
      assert(partitioned.nonEmpty)
      assert(run(Nil) === partitioned)
    }
  }
}
