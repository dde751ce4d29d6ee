package graft.merge

import graft.SparkSpec
import graft.functions.BloomBits
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** File-level key index (the Hudi BLOOM-index analogue): bloom bit
  * laws (no false negatives — the property pruning correctness rests
  * on), candidate pruning + its safety fallbacks (unindexed files,
  * phantom entries), index maintenance across upsert / delete /
  * compact / rollback, spec-mismatch degradation, and log folding. */
class KeyIndexSpec extends SparkSpec {
  import spark.implicits._

  private val keyCols = Seq("k")

  /** A fresh table path whose own probe gates force probing (and
    * building) at toy file counts/bytes. */
  private def probed(prefix: String): String = {
    val path = tmpDir(prefix) + "/t"
    KeyIndex.setProbeGates(spark, path, 0, 0L)
    path
  }

  private def rows(ks: Range, part: String): DataFrame =
    ks.map(k => (k.toLong, part, s"v$k")).toDF("k", "part", "v")

  /** Table-relative data files actually on disk. */
  private def listing(path: String): Set[String] = {
    val fs = Merge.fsFor(spark, path)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
      .flatMap(d => fs.listStatus(d.getPath).toSeq)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(st => Merge.relativize(root, st.getPath)).toSet
  }

  private def liveIndexed(path: String): Set[String] =
    KeyIndex.liveEntries(spark, path)
      .map(_.select("f").as[String].collect().toSet).getOrElse(Set.empty)

  test("BloomBits: no false negatives, bounded false positives") {
    val rnd = new scala.util.Random(7)
    val present = Seq.fill(5000)(rnd.nextLong()).distinct
    val (m, k) = BloomBits.sizeFor(present.size.toLong)
    val f = BloomBits.empty(m, k)
    present.foreach(h => BloomBits.add(f, h))
    // the load-bearing law: everything added always probes true
    assert(present.forall(h => BloomBits.maybeContains(f, h)))
    // sanity on the other side: a disjoint probe set mostly misses
    val absent = Seq.fill(5000)(rnd.nextLong()).filterNot(present.toSet)
    val fp = absent.count(h => BloomBits.maybeContains(f, h))
    assert(fp < absent.size / 10, s"false-positive rate too high: $fp")
    // merge = OR: a filter built in halves equals the whole
    val (a, b) = present.splitAt(present.size / 2)
    val fa = BloomBits.empty(m, k); a.foreach(BloomBits.add(fa, _))
    val fb = BloomBits.empty(m, k); b.foreach(BloomBits.add(fb, _))
    assert(BloomBits.or(fa, fb).toSeq === f.toSeq)
  }

  test("upsert commits build the index; pruning never misses a true file") {
    val path = probed("kix_prune")
    // several single-partition upserts with disjoint key ranges →
    // multiple indexed files whose blooms separate the ranges
    Merge.upsert(spark, rows(0 until 40, "a"), path, keyCols, "v", "part")
    Merge.upsert(spark, rows(100 until 140, "a"), path, keyCols, "v", "part")
    Merge.upsert(spark, rows(200 until 240, "a"), path, keyCols, "v", "part")
    assert(liveIndexed(path) === listing(path),
      "every live data file should carry an index entry")
    // candidate pruning: for EVERY key, the file that truly holds it
    // must be in the candidate set (no-false-negative, end to end)
    val spec = TableState.load(spark, path).keySpec.get
    val fs = Merge.fsFor(spark, path)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    val all = listing(path).toSeq
    val truth: Map[String, Set[Long]] = all.map { f =>
      f -> spark.read.parquet(new org.apache.hadoop.fs.Path(root, f)
        .toString).select("k").as[Long].collect().toSet
    }.toMap
    for (k <- Seq(0L, 39L, 100L, 139L, 200L, 239L)) {
      val probe = Seq((k, "a")).toDF("k", "part")
      val cand = KeyIndex.candidateFiles(spark,
        TableState.load(spark, path), spec, Seq("part=a"),
        all, Long.MaxValue, probe).get.toSet
      val owners = truth.filter(_._2.contains(k)).keySet
      assert(owners.subsetOf(cand),
        s"key $k: true file(s) $owners missing from candidates $cand")
    }
    // and pruning actually prunes: a key present in exactly one range
    // should not drag in all files (bloom fpp makes >1 possible, but
    // 6 tiny files at <1% fpp keeping ALL would mean no pruning)
    val cand0 = KeyIndex.candidateFiles(spark,
      TableState.load(spark, path), spec, Seq("part=a"),
      all, Long.MaxValue, Seq((0L, "a")).toDF("k", "part")).get
    assert(cand0.size < all.size)
  }

  test("indexed upsert/delete produce the same table as unindexed") {
    val a = probed("kix_eq_idx")
    def replay(path: String): Unit = {
      Merge.upsert(spark, rows(0 until 50, "a")
        .union(rows(0 until 30, "b")), path, keyCols, "v", "part")
      Merge.upsert(spark, rows(25 until 60, "a"), path, keyCols, "v", "part")
      Merge.delete(spark, (0 until 20 by 2).map(k => (k.toLong, "a"))
        .toDF("k", "part"), path, keyCols, "part")
    }
    replay(a)
    val b = tmpDir("kix_eq_plain") + "/t"
    // unindexed control: same replay with the index dropped between
    // every step (drop() leaves data untouched)
    Merge.upsert(spark, rows(0 until 50, "a")
      .union(rows(0 until 30, "b")), b, keyCols, "v", "part")
    KeyIndex.drop(spark, b)
    Merge.upsert(spark, rows(25 until 60, "a"), b, keyCols, "v", "part")
    KeyIndex.drop(spark, b)
    Merge.delete(spark, (0 until 20 by 2).map(k => (k.toLong, "a"))
      .toDF("k", "part"), b, keyCols, "part")
    val read = (p: String) => spark.read.parquet(p)
      .select("k", "part", "v").as[(Long, String, String)]
      .collect().toSeq.sorted
    assert(read(a) === read(b))
  }

  test("index tracks live files across delete, compact, and log folding") {
    val path = probed("kix_maint")
    Merge.upsert(spark, rows(0 until 40, "a"), path, keyCols, "v", "part")
    Merge.upsert(spark, rows(40 until 80, "a"), path, keyCols, "v", "part")
    Merge.delete(spark, Seq((5L, "a"), (45L, "a")).toDF("k", "part"),
      path, keyCols, "part")
    assert(liveIndexed(path) === listing(path))
    Merge.compact(spark, path, Seq("part"), keyCols, targetFileBytes = 1L << 26)
    assert(liveIndexed(path) === listing(path))
    // compact folds the entry log to (at most) one snapshot file
    val idxFiles = new java.io.File(s"$path/_graft_index").listFiles()
      .count(_.getName.endsWith(".json"))
    assert(idxFiles === 1, s"expected a folded index, got $idxFiles files")
    // fold is probe-invariant
    val spec = TableState.load(spark, path).keySpec.get
    val all = listing(path).toSeq
    val cand = KeyIndex.candidateFiles(spark,
      TableState.load(spark, path), spec, Seq("part=a"),
      all, Long.MaxValue, Seq((7L, "a")).toDF("k", "part")).get
    assert(cand.nonEmpty && cand.toSet.subsetOf(all.toSet))
  }

  test("phantom entries are ignored; unindexed files always scanned") {
    val path = probed("kix_phantom")
    Merge.upsert(spark, rows(0 until 30, "a"), path, keyCols, "v", "part")
    val spec = TableState.load(spark, path).keySpec.get
    // phantom: delete a data file from disk but leave its entry
    val victim = listing(path).head
    new java.io.File(s"$path/$victim").delete()
    val all = listing(path).toSeq
    val cand = KeyIndex.candidateFiles(spark,
      TableState.load(spark, path), spec, Seq("part=a"),
      all, Long.MaxValue, Seq((1L, "a")).toDF("k", "part"))
    cand.foreach(c => assert(!c.contains(victim),
      "a phantom index entry must never direct a read at a missing file"))
    // unindexed: drop a file FROM THE INDEX only → it must always be
    // a candidate (conservative fallback), whatever the probe key
    val fresh = probed("kix_unidx")
    Merge.upsert(spark, rows(0 until 30, "a"), fresh, keyCols, "v", "part")
    Merge.upsert(spark, rows(100 until 130, "a"), fresh, keyCols, "v",
      "part")
    val fspec = TableState.load(spark, fresh).keySpec.get
    val fall = listing(fresh).toSeq
    val unindexed = fall.head
    // rewrite the index without that file's entry
    val dir = new java.io.File(s"$fresh/_graft_index")
    dir.listFiles().filter(_.getName.endsWith(".json")).foreach { f =>
      val src = scala.io.Source.fromFile(f)
      val kept = try src.getLines().filterNot(
        _.contains(unindexed)).mkString("\n")
      finally src.close()
      val w = new java.io.PrintWriter(f); w.write(kept); w.close()
      // the local FS is checksummed — drop the stale .crc sibling the
      // out-of-band rewrite invalidated
      new java.io.File(dir, s".${f.getName}.crc").delete()
    }
    val c2 = KeyIndex.candidateFiles(spark,
      TableState.load(spark, fresh), fspec, Seq("part=a"),
      fall, Long.MaxValue, Seq((999999L, "a")).toDF("k", "part")).get
    assert(c2.contains(unindexed),
      "an unindexed data file must always be a candidate")
  }

  test("rollback drops the crashed commit's index entry") {
    val path = probed("kix_rb")
    Merge.upsert(spark, rows(0 until 30, "a"), path, keyCols,
      "v", "part")
    Merge.upsert(spark, rows(30 until 60, "a"), path, keyCols,
      "v", "part")
    val before = liveIndexed(path)
    assert(before === listing(path))
    // simulate a crashed commit 3 that already wrote its index entry:
    // claim the id, stage nothing, write a fake entry for a file that
    // was never published
    assert(Timeline.claim(spark, path) === 3L)
    val entry = new java.io.File(s"$path/_graft_index/" +
      f"${3L}%020d.json")
    val w = new java.io.PrintWriter(entry)
    w.write("""{"op":"add","f":"part=a/part-bogus.parquet","d":"part=a",""" +
      """"n":1,"b":"AA=="}""")
    w.close()
    // the phantom would be ignored at probe time anyway; rollback must
    // remove it outright
    Merge.rollback(spark, path, 3L)
    assert(!entry.exists())
    assert(liveIndexed(path) === before)
    // table still reads and upserts fine
    Merge.upsert(spark, rows(0 until 5, "a")
      .withColumn("_commit_ts", lit(99L)), path, keyCols, "v", "part")
    assert(spark.read.parquet(path).count() === 60)
  }

  test("a changed key spec drops the index and merges stay correct") {
    val path = probed("kix_spec")
    Merge.upsert(spark, rows(0 until 20, "a"), path, keyCols, "v", "part")
    assert(TableState.load(spark, path).keySpec.nonEmpty)
    // same table, different record key → index must disable, not lie
    Merge.upsert(spark,
      Seq((100L, "a", "vx")).toDF("k", "part", "v"), path,
      Seq("v"), "k", "part")
    assert(TableState.load(spark, path).keySpec.isEmpty,
      "a conflicting key spec must drop the index")
    assert(!new java.io.File(s"$path/_graft_index").exists())
    assert(spark.read.parquet(path).count() === 21)
  }

  test("bulkInsert with keys primes the index for later upserts") {
    val path = probed("kix_bulk")
    Merge.bulkInsert(rows(0 until 200, "a").union(rows(0 until 100, "b")),
      path, Seq("part"), keyCols, targetFileBytes = 1L << 14,
      maxFiles = 1 << 10)
    assert(liveIndexed(path) === listing(path),
      "bulk-loaded files should be indexed via the listing diff")
    // an upsert against the primed table matches the relational truth
    Merge.upsert(spark, rows(50 until 60, "a").withColumn("v", lit("NEW")),
      path, keyCols, "v", "part")
    val got = spark.read.parquet(path).filter($"part" === "a")
      .filter($"k".between(50, 59)).select("v").distinct()
      .as[String].collect().toSeq
    assert(got === Seq("NEW"))
    assert(liveIndexed(path) === listing(path))
  }

  test("a table below the probe gates never grows an index") {
    val path = tmpDir("kix_gated") + "/t"
    Merge.upsert(spark, rows(0 until 40, "a"), path, keyCols, "v", "part")
    // a rewrite (superseded files) and a pure insert (a second file)
    Merge.upsert(spark, rows(20 until 60, "a"), path, keyCols, "v", "part")
    Merge.upsert(spark, rows(100 until 120, "a"), path, keyCols, "v", "part")
    assert(Merge.compact(spark, path, Seq("part"), keyCols,
      targetFileBytes = 1L << 26) > 0)
    assert(TableState.load(spark, path).keySpec.nonEmpty)
    assert(!new java.io.File(s"$path/_graft_index").exists(),
      "no file was ever indexed, so there is nothing to tombstone")
  }
}
