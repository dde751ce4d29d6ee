package graft.util

import graft.SparkSpec
import org.apache.spark.sql.functions.sum

/** A drain's state partitions follow its input bytes, an input whose
  * size cannot be read keeps the session's partition count, and drains
  * started from several threads on one session keep their own counts
  * and leave the session's value as it was. */
class StreamTuningSpec extends SparkSpec {

  private def withBytes(n: Int): String = {
    val dir = tmpDir("stream_tuning_")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-0"), new Array[Byte](n))
    dir
  }

  test("an unreadable or empty input keeps the session partition count") {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(StreamTuning.streamPartitions(spark,
      tmpDir("stream_tuning_") + "/absent") === session)
    assert(StreamTuning.streamPartitions(spark,
      tmpDir("stream_tuning_")) === session)
  }

  test("a sized input gets one partition per quota, capped by the session") {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val quota = StreamTuning.bytesPerPart.toInt
    assert(StreamTuning.streamPartitions(spark, withBytes(10)) === 1)
    assert(StreamTuning.streamPartitions(spark,
      withBytes(quota + 1)) === 2)
    assert(StreamTuning.streamPartitions(spark,
      withBytes(quota * session + 1)) === session)
  }

  /** A text drain input of at least `bytes` bytes: 8-byte lines
    * holding `line % 97`. Returns the dir and its line count. */
  private def textInput(bytes: Int): (String, Int) = {
    val dir = tmpDir("stream_tuning_in_")
    val lines = (bytes + 7) / 8
    val sb = new StringBuilder
    (0 until lines).foreach(i => sb.append(f"${i % 97}%07d\n"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-0.txt"), sb)
    (dir, lines)
  }

  test("threads draining on one session keep their own partition counts") {
    val key = "spark.sql.shuffle.partitions"
    val session = spark.conf.get(key)
    val quota = StreamTuning.bytesPerPart.toInt
    val inputs = Seq(10, quota + 1, 2 * quota + 1, quota + 1)
      .map(textInput)
    val want = inputs.map { case (dir, _) =>
      StreamTuning.streamPartitions(spark, dir) }
    assert(want.distinct.size === 3, "the inputs must size differently")
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(inputs.size)
    try {
      val runs = inputs.zipWithIndex.map { case ((dir, _), i) =>
        val ckpt = tmpDir("stream_tuning_ck_")
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            start.await()
            StreamTuning.drain(spark, dir, ckpt) {
              spark.readStream.text(dir).groupBy("value").count()
                .writeStream.outputMode("complete")
                .format("memory").queryName(s"stream_tuning_$i")
            }
            ckpt
          }
        })
      }
      start.countDown()
      val ckpts = runs.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      inputs.zip(ckpts).zipWithIndex.foreach { case (((_, lines), ckpt), i) =>
        val out = spark.table(s"stream_tuning_$i")
        assert(out.count() === math.min(lines, 97).toLong)
        assert(out.agg(sum("count")).head().getLong(0) === lines.toLong)
        // the offset log records the partition count the query ran with
        val log = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(ckpt, "offsets", "0")))
        assert(log.contains(s""""$key":"${want(i)}""""), log)
      }
    } finally pool.shutdown()
    assert(spark.conf.get(key) === session)
  }
}
