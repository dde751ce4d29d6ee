package graft.merge

import graft.{FaultFs, SparkSpec}

/** What a commit's claim costs as the timeline grows: the claim starts
  * from the timeline's head entry instead of listing every commit, so
  * the filesystem work of a one-row upsert does not grow with the
  * number of commits before it; a table without a head claims from one
  * listing; and the head is never mistaken for foreign junk. */
class TimelineClaimSpec extends SparkSpec {
  import spark.implicits._

  FaultFs.install(spark)

  private val keyCols = Seq("transaction_id", "close_time")

  private def oneRow(price: Double) =
    Seq(("T1", "2024-01-01", "ADAGBP", price))
      .toDF("transaction_id", "close_time", "pair", "price")

  test("the opens, stats and lists of a one-row upsert do not grow with " +
      "the number of commits before it") {
    val path = FaultFs.tmpDir("claim_growth_") + "/table"
    // the same key every time: the table keeps one data file, so only
    // the timeline grows
    val counts = (1 to 60).map { i =>
      FaultFs.reset()
      Merge.upsert(spark, oneRow(i.toDouble), path, keyCols, "price", "pair")
      Seq("open", "stat", "list").map(op => FaultFs.count(op)(_ => true)).sum
    }
    assert(Merge.latestCommit(spark, path) === Some(60L))
    val (fifth, sixtieth) = (counts(4), counts(59))
    info(s"opens+stats+lists per upsert: 5th $fifth, 60th $sixtieth")
    assert(math.abs(sixtieth - fifth) <= 0.1 * fifth,
      s"a one-row upsert grew from $fifth to $sixtieth operations")
  }

  test("a missing or unreadable head falls back to one listing; the head " +
      "is not foreign") {
    val path = tmpDir("claim_head_") + "/table"
    val c1 = Merge.upsert(spark, oneRow(1.0), path, keyCols, "price", "pair")
    val c2 = Merge.upsert(spark, oneRow(2.0), path, keyCols, "price", "pair")
    val fs = Merge.fsFor(spark, path)
    val head = Timeline.headFile(path)
    assert(Merge.readSmallFile(fs, head).trim === c2.toString)
    assert(Timeline.list(spark, path).foreign === 0)
    // a table written before the head existed
    fs.delete(head, false)
    val c3 = Merge.upsert(spark, oneRow(3.0), path, keyCols, "price", "pair")
    assert(c3 === c2 + 1)
    // a damaged head
    Merge.writeSmallFile(fs, head, "not an id")
    val c4 = Merge.upsert(spark, oneRow(4.0), path, keyCols, "price", "pair")
    assert(c4 === c3 + 1)
    // a head left behind (a crash between record and head, or a racing
    // writer) only costs the claim a few stats: it skips issued ids
    Merge.writeSmallFile(fs, head, c1.toString)
    val c5 = Merge.upsert(spark, oneRow(5.0), path, keyCols, "price", "pair")
    assert(c5 === c4 + 1)
    assert(Merge.readSmallFile(fs, head).trim === c5.toString)
    val fsck = spark.sql(s"SELECT * FROM graft_fsck('$path')")
      .filter($"check_name" === "commit_timeline").collect().head
    assert(fsck.getString(1) === "ok", fsck.toString)
    assert(fsck.getString(2).contains("foreign=0"), fsck.toString)
  }
}
