package graft.streaming

import java.nio.file.{Files, Paths}

import graft.{FaultFs, SparkSpec}
import org.apache.hadoop.fs.Path

/** What grows per drain: 40 one-row `runAvailableNow` drains into one
  * COW table on the `faultfs` test filesystem, each drain's open, stat
  * and list operations split by path. The table side must stay flat;
  * the split of the rest (checkpoint logs, input dir) is reported. */
class DrainGrowthSpec extends SparkSpec {

  FaultFs.install(spark)

  private val pairs = Seq("ADAGBP", "BTCUSD", "ETHEUR", "XRPUSD")
  private val ops = Seq("open", "stat", "list")

  private def median(xs: Seq[Long]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2).toDouble
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  test("table-side operations per non-compacting one-row drain stay flat " +
      "over 40 drains") {
    val base = FaultFs.tmpDir("drain_growth_")
    val args = StreamLoader.Args(
      inputDir = s"$base/in", tablePath = s"$base/table",
      checkpointDir = s"$base/ckpt", deadLetterDir = s"$base/dlq",
      additionalColumns = Map("exchange" -> "kraken"),
      compactEvery = Some(4))
    def local(p: String): String = new Path(p).toUri.getPath
    Files.createDirectories(Paths.get(local(args.inputDir)))
    val areas = Seq("table" -> local(args.tablePath),
      "ckpt/offsets" -> local(s"${args.checkpointDir}/offsets"),
      "ckpt/commits" -> local(s"${args.checkpointDir}/commits"),
      "ckpt/sources" -> local(s"${args.checkpointDir}/sources"),
      "in" -> local(args.inputDir))
    // per drain: operations under each area (the table area includes its
    // staging siblings), and over every path
    val drains = (0 until 40).map { i =>
      Files.writeString(Paths.get(local(args.inputDir), f"o$i%03d.json"),
        s"""{"transaction_id":"TX$i","exchange_status":"closed",""" +
          s""""pair":"${pairs(i % pairs.size)}","order_type":"market",""" +
          s""""type":"buy","price":"${1 + i * 0.01}","fee":"0.01",""" +
          s""""volume":"10","open_time":1.69e9,"close_time":${1.7e9 + i}}""")
      FaultFs.reset()
      StreamLoader.runAvailableNow(spark, args)
      val byArea = areas.map { case (name, prefix) =>
        name -> ops.map(op => FaultFs.count(op)(_.startsWith(prefix))).sum
      }.toMap
      byArea + ("all" -> ops.map(op => FaultFs.count(op)(_ => true)).sum)
    }
    assert(spark.read.parquet(args.tablePath).count() === 40)
    // batch i compacts when (i + 1) % 4 == 0; batch 0 creates the table
    val steady = drains.indices.filter(i => i > 0 && (i + 1) % 4 != 0)
      .map(drains)
    val table = steady.map(_("table"))
    val (first, last) = (median(table.take(5)), median(table.takeRight(5)))
    info(s"table-side opens+stats+lists per non-compacting drain: " +
      table.mkString(","))
    Seq("first" -> steady.take(5), "last" -> steady.takeRight(5)).foreach {
      case (which, ds) => info(s"$which 5 non-compacting drains, median: " +
        (areas.map(_._1) :+ "all")
          .map(a => s"$a ${median(ds.map(_(a)))}").mkString(", "))
    }
    assert(math.abs(last - first) <= 0.1 * first,
      s"table-side operations per drain grew from $first to $last")
  }
}
