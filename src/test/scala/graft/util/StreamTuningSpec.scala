package graft.util

import graft.SparkSpec

/** A drain's state partitions follow its input bytes, and an input whose
  * size cannot be read keeps the session's partition count. */
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
}
