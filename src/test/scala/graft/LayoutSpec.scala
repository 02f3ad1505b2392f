package graft

import org.apache.spark.sql.functions._
import graft.fs.{Layout, OptimisticCommit}

/** Z-order layout: key algebra + the measured pruning receipt — the
  * written Z-ordered files must carry tight min/max stats on BOTH
  * clustering columns, where a single-column sort helps one and the
  * natural (arrival) layout helps neither. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  // a 100×100 uniform grid, arrival order striped so the natural layout
  // spreads both columns across every file
  private lazy val grid = spark.range(10000)
    .select(col("id"),
      (col("id") % 100).cast("double").as("a"),
      (col("id") / lit(100)).cast("long").cast("double").as("b"))

  // the newest completed commit version — what a time-travel read pins
  private def latestVersion(path: String): Long =
    OptimisticCommit.latestCompletedVersion(spark, path).get

  test("zorderKey: buckets and key stay in range; equal inputs share keys; nulls take bucket 0") {
    val keyed = Layout.zorderKey(grid, "a", "b", bits = 6)
    val stats = keyed.agg(
      min("__zb_a"), max("__zb_a"), min("__zb_b"), max("__zb_b"),
      min("zkey"), max("zkey"), countDistinct("zkey")).head()
    assert(stats.getInt(0) >= 0 && stats.getInt(1) <= 63)
    assert(stats.getInt(2) >= 0 && stats.getInt(3) <= 63)
    assert(stats.getLong(4) >= 0L && stats.getLong(5) < 4096L, s"zkey out of [0, 4^6): $stats")
    // same (bucket, bucket) ⇒ same key: key count cannot exceed bucket-pair count
    val pairs = keyed.select("__zb_a", "__zb_b").distinct().count()
    assert(stats.getLong(6) == pairs, "zkey must be a function of the bucket pair")
    // null column value lands in bucket 0
    val n = Layout.zorderKey(
      Seq((1L, Some(5.0), Option.empty[Double])).toDF("id", "a", "b"), "a", "b", bits = 2)
      .select("__zb_b").head().getInt(0)
    assert(n == 0, s"null must take bucket 0, got $n")
  }

  test("writeZordered: both columns prune; single-column sort only one; natural neither") {
    val base = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    def fracs(path: String): (Double, Double) = {
      val r = Layout.layoutStats(spark, path, "a", "b").head()
      (r.getDouble(1), r.getDouble(2))
    }
    // natural: arrival order stripes both columns across all files
    grid.repartition(16).write.parquet(s"$base/natural")
    // single-column: perfect on a, blind on b
    grid.repartitionByRange(16, col("a"), col("id"))
      .sortWithinPartitions("a").write.parquet(s"$base/bya")
    Layout.writeZordered(grid, s"$base/z", "a", "b", bits = 6, numFiles = 16)
    // row preservation + working columns dropped
    val z = spark.read.parquet(s"$base/z")
    assert(z.count() == 10000 && z.columns.sorted.toSeq == Seq("a", "b", "id"))
    val (na, nb) = fracs(s"$base/natural")
    val (sa, sb) = fracs(s"$base/bya")
    val (za, zb) = fracs(s"$base/z")
    assert(na > 0.8 && nb > 0.8, s"natural layout should prune neither: $na / $nb")
    assert(sa < 0.1 && sb > 0.8, s"single-column sort prunes a only: $sa / $sb")
    assert(za < 0.6 && zb < 0.6, s"z-order must prune BOTH columns: $za / $zb")
    assert(za < na / 2 && zb < nb / 2, s"z-order must at least halve both spreads: $za/$na, $zb/$nb")
  }

  test("prunedRead: equals the full-scan filter, touches few files on z-order, all on natural") {
    val base = java.nio.file.Files.createTempDirectory("graft-pruned").toString
    grid.repartition(16).write.parquet(s"$base/natural")
    Layout.writeZordered(grid, s"$base/z", "a", "b", bits = 6, numFiles = 16)
    for (v <- Seq("natural", "z")) Layout.writeManifest(spark, s"$base/$v", Seq("a", "b"))
    val ranges = Seq(("a", 20.0, 35.0), ("b", 40.0, 55.0))
    // exactness: file skipping + residual ≡ the full-scan filter, both ways
    val full = spark.read.parquet(s"$base/z")
      .where(col("a").between(20.0, 35.0) && col("b").between(40.0, 55.0))
    val pruned = Layout.prunedRead(spark, s"$base/z", ranges)
    assert(pruned.count() == 16 * 16)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty,
      "pruned read must equal the full-scan filter")
    // the receipt: a compact 2-D rectangle touches a fraction of the
    // z-ordered files but EVERY naturally-laid file (each spans all of
    // (a, b) space, so none can be skipped)
    val zKept = Layout.matchingFiles(spark, s"$base/z", ranges).length
    val nKept = Layout.matchingFiles(spark, s"$base/natural", ranges).length
    assert(nKept == 16, s"natural layout cannot skip: kept $nKept/16")
    assert(zKept <= 8, s"z-order must skip at least half the files: kept $zKept/16")
    // empty selection: schema intact, zero rows, no file ever opened
    val none = Layout.prunedRead(spark, s"$base/z", Seq(("a", 1e6, 2e6)))
    assert(none.count() == 0 && none.columns.sorted.toSeq == Seq("a", "b", "id"))
    // all-null bounds are skipped by every range (nulls never match a range)
    import spark.implicits._
    Seq((1L, Option.empty[Double], Some(1.0)), (2L, None, Some(2.0)))
      .toDF("id", "a", "b").write.parquet(s"$base/nullcol")
    Layout.writeManifest(spark, s"$base/nullcol", Seq("a", "b"))
    assert(Layout.matchingFiles(spark, s"$base/nullcol", Seq(("a", 0.0, 10.0))).isEmpty)
    assert(Layout.prunedRead(spark, s"$base/nullcol", Seq(("a", 0.0, 10.0))).count() == 0)
  }

  test("pointRead: exact on hits and misses; hash index skips where min/max cannot") {
    val base = java.nio.file.Files.createTempDirectory("graft-vindex").toString
    // ids striped mod 16 across files: every file's [min, max] envelope
    // spans nearly the whole id range — the adversarial case for the
    // min/max manifest, the home case for hash membership
    spark.range(10000).select(col("id"), (col("id") * 2).as("payload"))
      .repartitionByRange(16, col("id") % 16)
      .write.parquet(s"$base/striped")
    Layout.writeManifest(spark, s"$base/striped", Seq("id"))
    Layout.writeValueIndex(spark, s"$base/striped", "id")
    // min/max keeps every file for a point range... (range-partitioning a
    // 16-value key may coalesce to fewer files; count relative to actual)
    val total = spark.read.parquet(s"$base/striped")
      .select(input_file_name()).distinct().count()
    assert(total >= 8, s"striping degenerated to $total files")
    assert(Layout.matchingFiles(spark, s"$base/striped",
      Seq(("id", 777.0, 777.0))).length == total, "striped envelopes defeat min/max")
    // ...the hash index keeps the one true file plus at most tiny fp spill
    val kept = Layout.pointLookupFiles(spark, s"$base/striped", "id", lit(777L))
    assert(kept.length >= 1 && kept.length <= 3, s"hash index kept ${kept.length}/$total")
    // exactness: the hit
    val hit = Layout.pointRead(spark, s"$base/striped", "id", lit(777L)).collect()
    assert(hit.length == 1 && hit(0).getLong(0) == 777L && hit(0).getLong(1) == 1554L)
    // exactness: the miss — zero rows even if a false-positive file opens
    assert(Layout.pointRead(spark, s"$base/striped", "id", lit(123456L)).count() == 0)
    // type-width sensitivity is handled: an Int literal probes a Long column
    assert(Layout.pointRead(spark, s"$base/striped", "id", lit(777)).count() == 1)
  }

  test("composed prunedRead: range ∩ point equals the full-scan conjunction, intersection beats either side") {
    val base = java.nio.file.Files.createTempDirectory("graft-composed").toString
    Layout.writeZordered(grid, s"$base/z", "a", "b", bits = 6, numFiles = 16)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    Layout.writeValueIndex(spark, s"$base/z", "id")
    // a real query shape: metric range + key point — the manifest answers
    // the range, the hash index answers the point, file lists intersect
    val ranges = Seq(("b", 40.0, 55.0))
    val points = Seq(("id", lit(4243L)))  // a=43, b=42 → inside the range
    val got = Layout.prunedRead(spark, s"$base/z", ranges, points, 1 << 16).collect()
    assert(got.length == 1 && got(0).getAs[Long]("id") == 4243L)
    // a point whose row falls OUTSIDE the range → zero rows, exactly the
    // full-scan conjunction (id=9999 has b=99)
    assert(Layout.prunedRead(spark, s"$base/z", ranges,
      Seq(("id", lit(9999L))), 1 << 16).count() == 0)
    // the receipt: the intersection touches no more files than either
    // index alone keeps, and strictly fewer than the total
    val rangeKept = Layout.matchingFiles(spark, s"$base/z", ranges).length
    val pointKept = Layout.pointLookupFiles(spark, s"$base/z", "id", lit(4243L)).length
    val resolved = Layout.prunedRead(spark, s"$base/z", ranges, points, 1 << 16)
      .select(input_file_name()).distinct().count()
    assert(resolved <= math.min(rangeKept, pointKept),
      s"intersection opened $resolved files vs range=$rangeKept point=$pointKept")
    assert(rangeKept < 16, "range side must skip on the z layout")
    // empty intersection (point range-pruned away entirely) stays exact
    assert(Layout.prunedRead(spark, s"$base/z", Seq(("b", 98.0, 99.0)),
      Seq(("id", lit(4243L))), 1 << 16).count() == 0)
    // points-only composed call degrades to the value-index path
    assert(Layout.prunedRead(spark, s"$base/z", Nil,
      Seq(("id", lit(4243L))), 1 << 16).count() == 1)
  }

  test("stale index detection: a data rewrite behind the manifest/value index throws, never drops rows") {
    val base = java.nio.file.Files.createTempDirectory("graft-stale").toString
    grid.repartition(4).write.parquet(s"$base/d")
    Layout.writeManifest(spark, s"$base/d", Seq("a", "b"))
    Layout.writeValueIndex(spark, s"$base/d", "id")
    val ranges = Seq(("a", 20.0, 35.0))
    // fresh: both paths serve
    assert(Layout.prunedRead(spark, s"$base/d", ranges).count() > 0)
    assert(Layout.pointRead(spark, s"$base/d", "id", lit(777L)).count() == 1)
    // a file lands AFTER the indexes were written (an append the index
    // never saw — its rows would silently vanish from pruned reads)
    grid.where(col("id") < 10).coalesce(1).write.mode("append").parquet(s"$base/d")
    val e1 = intercept[IllegalArgumentException](Layout.prunedRead(spark, s"$base/d", ranges))
    assert(e1.getMessage.contains("stale manifest"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Layout.pointRead(spark, s"$base/d", "id", lit(777L)))
    assert(e2.getMessage.contains("stale value index"), e2.getMessage)
    // rewriting the indexes restores service (the documented commit unit)
    Layout.writeManifest(spark, s"$base/d", Seq("a", "b"))
    Layout.writeValueIndex(spark, s"$base/d", "id")
    assert(Layout.prunedRead(spark, s"$base/d", ranges).count() > 0)
    // a data file DELETED behind the index also throws (the index lists
    // a file the scan would fail or silently skip on)
    val p = new org.apache.hadoop.fs.Path(s"$base/d")
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = hfs.listStatus(p).map(_.getPath)
      .filter(q => q.getName.endsWith(".parquet")).head
    hfs.delete(victim, false)
    val e3 = intercept[IllegalArgumentException](Layout.prunedRead(spark, s"$base/d", ranges))
    assert(e3.getMessage.contains("gone from data"), e3.getMessage)
  }

  test("append lifecycle: frozen-bounds re-key, incremental index refresh ∝ new files, compaction restores file count") {
    val base = java.nio.file.Files.createTempDirectory("graft-zappend").toString
    val built = grid.where(col("id") % 2 === 0)
    val arriving = grid.where(col("id") % 2 === 1)
    Layout.writeZordered(built, s"$base/z", "a", "b", bits = 6, numFiles = 8)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    Layout.writeValueIndex(spark, s"$base/z", "id")
    // meta sidecar round-trips the frozen parameters
    val (mCols, mBits, mBounds) = Layout.readLayoutMeta(spark, s"$base/z")
    assert(mCols == Seq("a", "b") && mBits == 6 && mBounds.forall(_.nonEmpty))
    // append re-keys against the frozen bounds; data now AHEAD of indexes →
    // pruned reads refuse loudly (never silently drop the new rows)
    Layout.appendZordered(arriving, s"$base/z", numFiles = 4)
    intercept[IllegalArgumentException](
      Layout.prunedRead(spark, s"$base/z", Seq(("a", 20.0, 35.0))))
    // incremental refresh indexes ONLY the new files
    assert(Layout.refreshManifest(spark, s"$base/z", Seq("a", "b")) == 4L)
    assert(Layout.refreshValueIndex(spark, s"$base/z", "id") == 4L)
    // idempotent: a second refresh finds nothing new
    assert(Layout.refreshManifest(spark, s"$base/z", Seq("a", "b")) == 0L)
    assert(Layout.refreshValueIndex(spark, s"$base/z", "id") == 0L)
    // exactness across the append boundary: range and point reads serve
    // built + appended rows ≡ the full-scan filter
    val full = spark.read.parquet(s"$base/z")
      .where(col("a").between(20.0, 35.0) && col("b").between(40.0, 55.0))
    val pruned = Layout.prunedRead(spark, s"$base/z",
      Seq(("a", 20.0, 35.0), ("b", 40.0, 55.0)))
    assert(pruned.count() == 16 * 16 && full.exceptAll(pruned).isEmpty)
    assert(Layout.pointRead(spark, s"$base/z", "id", lit(4243L)).count() == 1)
    assert(Layout.pointRead(spark, s"$base/z", "id", lit(4244L)).count() == 1)
    // appended files still prune: the 2-D rectangle skips some of the 12
    val kept = Layout.matchingFiles(spark, s"$base/z",
      Seq(("a", 20.0, 35.0), ("b", 40.0, 55.0))).length
    assert(kept < 12, s"append kept pruning alive: $kept/12 files")
    // compaction: 12 fragmented files → 8, rows identical, indexes must
    // be REWRITTEN (incremental refresh refuses on gone files)
    Layout.compactLayout(spark, s"$base/z", numFiles = 8)
    val nFiles = spark.read.parquet(s"$base/z")
      .select(input_file_name()).distinct().count()
    assert(nFiles <= 8, s"compaction left $nFiles files")
    assert(spark.read.parquet(s"$base/z").count() == 10000)
    val e = intercept[IllegalArgumentException](
      Layout.refreshManifest(spark, s"$base/z", Seq("a", "b")))
    assert(e.getMessage.contains("gone from data"), e.getMessage)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    // re-plan the full scan: the pre-compaction frame's file listing is
    // stale by design (compaction replaced every file)
    val fullC = spark.read.parquet(s"$base/z")
      .where(col("a").between(20.0, 35.0) && col("b").between(40.0, 55.0))
    val prunedC = Layout.prunedRead(spark, s"$base/z",
      Seq(("a", 20.0, 35.0), ("b", 40.0, 55.0)))
    assert(prunedC.count() == 16 * 16 && fullC.exceptAll(prunedC).isEmpty)
  }

  test("deleteMatching: index-pruned partition rewrites, untouched partitions byte-identical, idempotent, crash-recoverable") {
    val base = java.nio.file.Files.createTempDirectory("graft-zdel").toString
    // 4-epoch layout, a ∈ [0,100) per epoch quarter — epoch q holds ids
    // with id%4==q, so every epoch contains a=43 rows but value-index
    // pruning on id touches ONE epoch per probe id
    Layout.buildZorderedEpoch(grid.where(col("id") % 4 === 0), s"$base/z",
      Seq("a", "b"), bits = 6, numFiles = 4)
    for (r <- 1 to 3)
      Layout.appendZorderedEpoch(grid.where(col("id") % 4 === r), s"$base/z", r,
        numFiles = 4)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    Layout.writeValueIndex(spark, s"$base/z", "id")
    def filesOf(): Map[String, Set[String]] = {
      val root = new java.io.File(s"$base/z")
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    }
    val before = filesOf()
    // delete one row by id: the hash index routes to its one epoch
    val removed = Layout.deleteMatching(spark, s"$base/z", Nil, Seq(("id", lit(4243L))))
    assert(removed == 1L, s"exactly one victim, got $removed")
    val after = filesOf()
    // 4243 % 4 == 3: only epoch 3 (plus hash-collision spill, if any) moved
    assert(after("batch=0") == before("batch=0") &&
      after("batch=1") == before("batch=1") && after("batch=2") == before("batch=2"),
      "partitions without victims must stay byte-identical")
    assert(after("batch=3") != before("batch=3"), "the victim's partition must be rewritten")
    // data moved, indexes stale → pruned reads refuse loudly
    intercept[IllegalArgumentException](
      Layout.prunedRead(spark, s"$base/z", Seq(("a", 40.0, 45.0))))
    // the commit unit: refresh with allowGone, reads exact minus the victim
    Layout.refreshManifest(spark, s"$base/z", Seq("a", "b"), allowGone = true)
    Layout.refreshValueIndex(spark, s"$base/z", "id", allowGone = true)
    assert(spark.read.parquet(s"$base/z").count() == 9999)
    assert(Layout.pointRead(spark, s"$base/z", "id", lit(4243L)).count() == 0)
    assert(Layout.pointRead(spark, s"$base/z", "id", lit(4242L)).count() == 1)
    // range-predicate delete: a whole (a, b) rectangle via the manifest
    val removed2 = Layout.deleteMatching(spark, s"$base/z",
      Seq(("a", 10.0, 12.0), ("b", 20.0, 22.0)), Nil)
    assert(removed2 == 9L, s"3x3 grid rectangle, got $removed2")
    Layout.refreshManifest(spark, s"$base/z", Seq("a", "b"), allowGone = true)
    Layout.refreshValueIndex(spark, s"$base/z", "id", allowGone = true)
    val full = spark.read.parquet(s"$base/z")
      .where(col("a").between(8.0, 14.0) && col("b").between(18.0, 24.0))
      .select("id", "a", "b")
    val pruned = Layout.prunedRead(spark, s"$base/z",
      Seq(("a", 8.0, 14.0), ("b", 18.0, 24.0))).select("id", "a", "b")
    assert(pruned.count() == 7 * 7 - 9 && full.exceptAll(pruned).isEmpty)
    // idempotent: nothing left to delete
    assert(Layout.deleteMatching(spark, s"$base/z",
      Seq(("a", 10.0, 12.0), ("b", 20.0, 22.0)), Nil) == 0L)
    // crash recovery: a partition left set-aside (dst gone, .delold_ present)
    // is restored by the next call's recovery pass
    val root = new java.io.File(s"$base/z")
    val p1 = new java.io.File(root, "batch=1")
    val aside = new java.io.File(root, ".delold_batch=1")
    assert(p1.renameTo(aside))
    assert(Layout.deleteMatching(spark, s"$base/z", Nil, Seq(("id", lit(-1L)))) == 0L)
    assert(p1.isDirectory && !aside.exists, "recovery must restore the set-aside partition")
    assert(spark.read.parquet(s"$base/z").count() == 9990)
  }

  test("countMatching: exact everywhere, interior files counted from metadata, null files never metadata-counted") {
    val base = java.nio.file.Files.createTempDirectory("graft-zcount").toString
    Layout.writeZordered(grid, s"$base/z", "a", "b", bits = 6, numFiles = 64)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    def truth(df: org.apache.spark.sql.DataFrame,
        r: Seq[(String, Double, Double)]): Long =
      df.where(r.map { case (c, lo, hi) =>
        col(c) >= lo && col(c) <= hi
      }.reduce(_ && _)).count()
    // whole space: every file fully contained, ZERO scanned — the
    // metadata-only fast path
    val (n0, f0, s0) = Layout.countMatching(spark, s"$base/z",
      Seq(("a", 0.0, 99.0), ("b", 0.0, 99.0)))
    assert(n0 == 10000 && f0 == 64 && s0 == 0, s"($n0, $f0, $s0)")
    // a large rectangle: exact, interior files counted from metadata,
    // only the boundary-crossing files scanned
    val big = Seq(("a", 10.0, 90.0), ("b", 10.0, 90.0))
    val (n1, f1, s1) = Layout.countMatching(spark, s"$base/z", big)
    assert(n1 == truth(grid, big), s"exactness: $n1")
    assert(f1 > 0, "interior files must count from metadata alone")
    // a selective rectangle: exact, and files outside it never touched
    val sel = Seq(("a", 23.0, 31.0), ("b", 47.0, 52.0))
    val (nS, fS, sS) = Layout.countMatching(spark, s"$base/z", sel)
    assert(nS == truth(grid, sel), s"selective exactness: $nS")
    assert(fS + sS < 32, s"a 9x6 rectangle over a 64-file z-layout must skip " +
      s"most files, touched ${fS + sS}")
    val (ne, fe, se) = Layout.countMatching(spark, s"$base/z",
      Seq(("a", 200.0, 300.0)))
    assert(ne == 0 && fe == 0 && se == 0)
    // null honesty: with nulls in every file, containment must never
    // claim a file (min/max ignore nulls — nn_b < cnt blocks the proof),
    // and the count stays exact through the boundary scan
    val gnull = grid.withColumn("b",
      when(col("id") % 7 === 0, lit(null)).otherwise(col("b")))
    Layout.writeZordered(gnull, s"$base/zn", "a", "b", bits = 6, numFiles = 8)
    Layout.writeManifest(spark, s"$base/zn", Seq("a", "b"))
    val (n2, f2, _) = Layout.countMatching(spark, s"$base/zn", big)
    assert(n2 == truth(gnull, big), s"null-bearing exactness: $n2")
    assert(f2 == 0, "a file with nulls in a range column cannot be metadata-counted")
    // but a range conjunction NOT touching the null column counts the
    // null rows too (they match the a-only predicate)
    val aOnly = Seq(("a", 0.0, 99.0))
    val (n3, f3, s3) = Layout.countMatching(spark, s"$base/zn", aOnly)
    assert(n3 == 10000 && f3 == 8 && s3 == 0, s"($n3, $f3, $s3)")
  }

  test("aggMatching: min/max/count exact from metadata + boundary scan, null-aware, empty rectangle is SQL NULL") {
    val base = java.nio.file.Files.createTempDirectory("graft-zagg").toString
    Layout.writeZordered(grid, s"$base/z", "a", "b", bits = 6, numFiles = 64)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    def truth(df: org.apache.spark.sql.DataFrame,
        r: Seq[(String, Double, Double)]): (Double, Double, Long) = {
      val x = df.where(r.map { case (c, lo, hi) =>
        col(c) >= lo && col(c) <= hi
      }.reduce(_ && _)).agg(min("b"), max("b"), count(lit(1))).head()
      (x.getDouble(0), x.getDouble(1), x.getLong(2))
    }
    // whole space: metadata-only (zero scans), exact
    val (mn0, mx0, n0, f0, s0) = Layout.aggMatching(spark, s"$base/z",
      Seq(("a", 0.0, 99.0), ("b", 0.0, 99.0)), "b")
    assert((mn0.get, mx0.get, n0) == truth(grid, Seq(("a", 0.0, 99.0), ("b", 0.0, 99.0))))
    assert(f0 == 64 && s0 == 0, s"($f0, $s0)")
    // selective rectangles: exact through the mixed path
    for (r <- Seq(Seq(("a", 10.0, 90.0), ("b", 10.0, 90.0)),
      Seq(("a", 23.0, 31.0), ("b", 47.0, 52.0)), Seq(("b", 5.0, 7.0)))) {
      val (mn, mx, n, _, _) = Layout.aggMatching(spark, s"$base/z", r, "b")
      assert((mn.get, mx.get, n) == truth(grid, r), s"rect $r")
    }
    // empty rectangle: SQL NULL min/max, zero count, nothing touched
    val (mnE, mxE, nE, fE, sE) = Layout.aggMatching(spark, s"$base/z",
      Seq(("a", 200.0, 300.0)), "b")
    assert(mnE.isEmpty && mxE.isEmpty && nE == 0 && fE == 0 && sE == 0)
    // nulls in the agg column: manifest bounds ignore them (SQL min/max),
    // count keeps the null rows (they match the a-range), result exact
    val gnull = grid.withColumn("b",
      when(col("id") % 7 === 0, lit(null)).otherwise(col("b")))
    Layout.writeZordered(gnull, s"$base/zn", "a", "b", bits = 6, numFiles = 8)
    Layout.writeManifest(spark, s"$base/zn", Seq("a", "b"))
    val (mnN, mxN, nN, fN, sN) = Layout.aggMatching(spark, s"$base/zn",
      Seq(("a", 0.0, 99.0)), "b")
    assert((mnN.get, mxN.get, nN) == truth(gnull, Seq(("a", 0.0, 99.0))))
    assert(nN == 10000 && fN == 8 && sN == 0,
      "a-only range: all files metadata-provable even with null b rows")
  }

  test("compactEpochsTiered: folds only small non-newest epochs, untouched files stay, serve unchanged, crash-convergent") {
    val base = java.nio.file.Files.createTempDirectory("graft-ztier").toString
    // one big built epoch + three micro-epochs (the streaming accretion)
    Layout.buildZorderedEpoch(grid.where(col("id") < 7000), s"$base/z",
      Seq("a", "b"), bits = 6, numFiles = 8)
    for (r <- 1 to 3)
      Layout.appendZorderedEpoch(grid.where(col("id") >= lit(6000 + r * 1000)
        && col("id") < lit(7000 + r * 1000)), s"$base/z", r, numFiles = 2)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    Layout.writeValueIndex(spark, s"$base/z", "id", buckets = 1 << 12)
    val root = new org.apache.hadoop.fs.Path(s"$base/z")
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(part: String): Set[String] =
      hfs.listStatus(new org.apache.hadoop.fs.Path(root, part))
        .map(_.getPath.getName).toSet
    val bigBytes = hfs.getContentSummary(
      new org.apache.hadoop.fs.Path(root, "batch=0")).getLength
    val bigBefore = files("batch=0")
    val newestBefore = files("batch=3")
    // epochs 1 and 2 are small and non-newest: exactly they fold; epoch 3
    // is equally small but NEWEST (replayable) — never picked
    val folded = Layout.compactEpochsTiered(spark, s"$base/z",
      maxBytes = bigBytes / 2, numFiles = 2)
    assert(folded == Seq(1L, 2L), s"fold set: $folded")
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(root, "batch=2")))
    assert(files("batch=0") == bigBefore, "big epoch must be untouched")
    assert(files("batch=3") == newestBefore, "newest epoch must be untouched")
    // the index catch-up is INCREMENTAL (allowGone) — then serve is exact
    Layout.refreshManifest(spark, s"$base/z", Seq("a", "b"), allowGone = true)
    Layout.refreshValueIndex(spark, s"$base/z", "id", buckets = 1 << 12,
      allowGone = true)
    val r = Seq(("a", 8.0, 14.0), ("b", 18.0, 24.0))
    val truth = grid.where(col("a").between(8.0, 14.0) &&
      col("b").between(18.0, 24.0)).select("id", "a", "b")
    val served = Layout.prunedRead(spark, s"$base/z", r).select("id", "a", "b")
    assert(served.count() == truth.count() && truth.exceptAll(served).isEmpty)
    assert(spark.read.parquet(s"$base/z").count() == 10000)
    // re-run: the folded tier alone is below threshold but a fold needs
    // >= 2 picks — no-op
    assert(Layout.compactEpochsTiered(spark, s"$base/z", bigBytes / 2, 2).isEmpty)
    // crash window (a): an uncommitted staging dir (no marker) is dropped
    hfs.mkdirs(new org.apache.hadoop.fs.Path(root, ".cmpnew_batch=1"))
    Layout.recoverLayout(spark, s"$base/z")
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(root, ".cmpnew_batch=1")))
    assert(spark.read.parquet(s"$base/z").count() == 10000)
    // crash window (b): marker + staging present, target set aside —
    // ROLLBACK restores the target, drops staging + marker, victims intact
    assert(hfs.rename(new org.apache.hadoop.fs.Path(root, "batch=1"),
      new org.apache.hadoop.fs.Path(root, ".cmpold_batch=1")))
    hfs.mkdirs(new org.apache.hadoop.fs.Path(root, ".cmpnew_batch=1"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/z/.cmpcommit"),
      "1\n3".getBytes("UTF-8"))
    Layout.recoverLayout(spark, s"$base/z")
    assert(hfs.exists(new org.apache.hadoop.fs.Path(root, "batch=1")))
    assert(hfs.exists(new org.apache.hadoop.fs.Path(root, "batch=3")),
      "rollback must never touch the marker's victims")
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(root, ".cmpcommit")))
    assert(spark.read.parquet(s"$base/z").count() == 10000)
    // crash window (c): marker with NO staging — the swap committed; ROLL
    // FORWARD deletes the named victims (a stranded duplicate partition)
    val srcDir = java.nio.file.Paths.get(s"$base/z/batch=1")
    val dupDir = java.nio.file.Paths.get(s"$base/z/batch=9")
    java.nio.file.Files.walk(srcDir).forEach { p =>
      java.nio.file.Files.copy(p, dupDir.resolve(srcDir.relativize(p).toString),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    assert(spark.read.parquet(s"$base/z").count() > 10000, "duplicate staged")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/z/.cmpcommit"),
      "1\n9".getBytes("UTF-8"))
    Layout.recoverLayout(spark, s"$base/z")
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(root, "batch=9")))
    assert(spark.read.parquet(s"$base/z").count() == 10000)
    // crash window (d): ZERO-LENGTH marker (crash between hfs.create and
    // the id write — nothing was swapped). Recovery must treat it as
    // uncommitted — drop staging + marker, table intact — not wedge every
    // subsequent recoverLayout on ids.head
    hfs.mkdirs(new org.apache.hadoop.fs.Path(root, ".cmpnew_batch=1"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/z/.cmpcommit"),
      Array.empty[Byte])
    Layout.recoverLayout(spark, s"$base/z")
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(root, ".cmpcommit")),
      "empty marker must be swept, not wedge the layout")
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(root, ".cmpnew_batch=1")))
    assert(spark.read.parquet(s"$base/z").count() == 10000)
  }

  test("ndvMatching: sketch fold bit-identical to the whole-scan KMV, interior files from metadata, exact under k, fences") {
    val base = java.nio.file.Files.createTempDirectory("graft-zndv").toString
    Layout.writeZordered(grid, s"$base/z", "a", "b", bits = 6, numFiles = 64)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b", "id"))
    // the claim: the pushdown's sketch-fold answer IS the whole-scan
    // sketch's answer (KMV min-k merge is exact), on any rectangle
    def direct(df: org.apache.spark.sql.DataFrame,
        r: Seq[(String, Double, Double)], c: String): (Long, Double) = {
      val row = graft.ops.Sketches.kmvDistinct(
        df.where(r.map { case (cc, lo, hi) =>
          col(cc) >= lo && col(cc) <= hi
        }.reduce(_ && _)).withColumn("g", lit(1)), "g", col(c)).head()
      (row.getAs[Long]("n_seen"), row.getAs[Double]("est_distinct"))
    }
    // whole space: zero files scanned, estimate from metadata alone
    val whole = Seq(("a", 0.0, 99.0), ("b", 0.0, 99.0))
    val (n0, e0, f0, s0) = Layout.ndvMatching(spark, s"$base/z", whole, "id",
      routeBelowFiles = 0)
    assert(f0 == 64 && s0 == 0, s"($f0, $s0)")
    assert((n0, e0) == direct(grid, whole, "id"), s"($n0, $e0)")
    // selective rectangle: bit-identical estimate, most files untouched
    val sel = Seq(("a", 23.0, 31.0), ("b", 47.0, 52.0))
    val (n1, e1, f1, s1) = Layout.ndvMatching(spark, s"$base/z", sel, "id",
      routeBelowFiles = 0)
    assert((n1, e1) == direct(grid, sel, "id"), s"($n1, $e1)")
    assert(f1 + s1 < 32, s"9x6 rectangle must skip most files, touched ${f1 + s1}")
    // AUTO-ROUTE: below the file-count crossover the default consult
    // answers through the pruned-scan twin — bit-identical values, zero
    // metadata-counted files in the receipt
    val (nr, er, fr, _) = Layout.ndvMatching(spark, s"$base/z", sel, "id")
    assert((nr, er) == ((n1, e1)) && fr == 0, s"routed: ($nr, $er, $fr)")
    // true NDV < k: the sketch holds every distinct hash — estimate EXACT
    val (n2, e2, _, _) = Layout.ndvMatching(spark, s"$base/z",
      Seq(("b", 5.0, 7.0)), "b")
    assert(n2 == 3 && e2 == 3.0, s"($n2, $e2)")
    // incremental refresh carries the sketch column for the new files
    val extra = spark.range(10000, 12000).select(col("id"),
      (col("id") % 100).cast("double").as("a"),
      (col("id") / lit(100)).cast("long").cast("double").as("b"))
    Layout.appendZordered(extra, s"$base/z", numFiles = 4)
    Layout.refreshManifest(spark, s"$base/z", Seq("a", "b", "id"))
    val wide = Seq(("a", 0.0, 99.0), ("b", 0.0, 199.0))
    val (n3, e3, _, _) = Layout.ndvMatching(spark, s"$base/z", wide, "id")
    assert((n3, e3) == direct(grid.unionAll(extra), wide, "id"), s"($n3, $e3)")
    // a column the manifest never sketched refuses loudly
    val err = intercept[IllegalArgumentException](
      Layout.ndvMatching(spark, s"$base/z", whole, "nope"))
    assert(err.getMessage.contains("kmv_nope"))
    // MoR fence: pending tombstones make the manifest a lie — refuse
    Layout.deleteLogical(spark, s"$base/z", Seq(17L).toDF("id"), "id")
    intercept[IllegalArgumentException](
      Layout.ndvMatching(spark, s"$base/z", whole, "id"))
  }

  test("describeLayout: shape, index freshness, MoR backlog, lease, and drift in one receipt") {
    val base = java.nio.file.Files.createTempDirectory("graft-zdesc").toString
    Layout.buildZorderedEpoch(grid.where(col("id") % 2 === 0), s"$base/z",
      Seq("a", "b"), bits = 6, numFiles = 4)
    Layout.appendZorderedEpoch(grid.where(col("id") % 2 === 1), s"$base/z",
      1, numFiles = 4)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    Layout.writeValueIndex(spark, s"$base/z", "id", buckets = 1 << 12)
    Layout.writeQuantileIndex(spark, s"$base/z", "b", "id", k = 16)
    def facts(keyCols: Seq[String] = Nil, withDrift: Boolean = false) =
      Layout.describeLayout(spark, s"$base/z", keyCols, withDrift)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val d0 = facts(withDrift = true)
    assert(d0("epochs") == "2" && d0("files") == "8", s"$d0")
    assert(d0("z_cols") == "a,b" && d0("bits") == "6" && d0("schema_cols") == "3")
    assert(d0("manifest") == "fresh" && d0("vindex_id") == "fresh" &&
      d0("qindex_b_by_id") == "fresh", s"$d0")
    assert(!d0.contains("snapshots") && !d0.contains("lease_holder"))
    assert(d0.contains("drift_a") && d0.contains("drift_b"))
    // the commit log surfaces too: build + append = v1 at the tip,
    // complete, with both versions retained
    assert(d0("commit_tip") == "1" && d0("commit_tip_state") == "append:complete" &&
      d0("commits_retained") == "2", s"$d0")
    // an append without the closing refreshes reads as STALE — the
    // non-throwing twin of the pruned-read refusal
    val extra = spark.range(10000, 10100).select(col("id"),
      (col("id") % 100).cast("double").as("a"),
      (col("id") / lit(100)).cast("long").cast("double").as("b"))
    Layout.appendZorderedEpoch(extra, s"$base/z", 3, numFiles = 1)
    val d1 = facts()
    assert(d1("manifest") == "stale" && d1("vindex_id") == "stale", s"$d1")
    Layout.refreshManifest(spark, s"$base/z", Seq("a", "b"))
    Layout.refreshValueIndex(spark, s"$base/z", "id", buckets = 1 << 12)
    Layout.refreshQuantileIndex(spark, s"$base/z", "b", "id", k = 16)
    assert(facts()("manifest") == "fresh")
    // MoR backlog counts; each staging is one more retained version;
    // live lease holder
    val tipBefore = facts()("commit_tip").toLong
    Layout.deleteLogical(spark, s"$base/z", Seq(4L, 6L).toDF("id"), "id")
    Layout.upsertLogical(spark, s"$base/z",
      Seq((8L, 1.0, 2.0)).toDF("id", "a", "b"), "id")
    val d2 = facts(keyCols = Seq("id"))
    assert(d2("pending_tombstones_id") == "2" && d2("pending_deltas_id") == "1",
      s"$d2")
    assert(d2("commit_tip") == (tipBefore + 2).toString &&
      d2("commits_retained") == (tipBefore + 3).toString, s"$d2")
    Layout.withWriterLease(spark, s"$base/z", "describe-spec") {
      assert(facts()("lease_holder") == "describe-spec")
    }
    assert(!facts().contains("lease_holder"), "lease released on exit")
  }

  test("snapshotDiff: CDC between commit versions — fast path ≡ general, no-ops excluded, takedown wins, refusals") {
    val base = java.nio.file.Files.createTempDirectory("graft-zdiff").toString
    Layout.writeZordered(grid, s"$base/z", "a", "b", bits = 6, numFiles = 8)
    val v0 = latestVersion(s"$base/z")
    // stage: a real update (id 10), a NO-OP delta (id 20, identical row),
    // an insert (id 50000), an insert-then-deleted key (id 50001), and
    // tombstones for an existing key (id 30), the update overlap (id 10
    // stays an update — 40 is the overlap victim), and an absent key
    val updates = Seq(
      (10L, 999.0, 999.0),                 // update
      (20L, 20.0, 0.0),                    // no-op: equals the stored row
      (40L, 888.0, 888.0),                 // staged update, then tombstoned
      (50000L, 1.0, 2.0),                  // insert
      (50001L, 3.0, 4.0)                   // insert, then tombstoned
    ).toDF("id", "a", "b")
    Layout.upsertLogical(spark, s"$base/z", updates, "id")
    Layout.deleteLogical(spark, s"$base/z",
      Seq(30L, 40L, 50001L, 77777L).toDF("id"), "id")
    val v1 = latestVersion(s"$base/z")
    val fast = Layout.snapshotDiff(spark, s"$base/z", v0, v1, "id")
      .as[(Long, String, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect().toSet
    val general = Layout.snapshotDiffGeneral(spark, s"$base/z", v0, v1, "id")
      .as[(Long, String, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect().toSet
    assert(fast == general, s"fast path must equal the general diff")
    // above the broadcast cap the SAME eligible pair routes to the
    // shuffle-safe general path (no driver-side broadcast of a huge
    // changed-key set) and still answers identically
    val capped = Layout.snapshotDiff(spark, s"$base/z", v0, v1, "id",
      broadcastKeyCap = 1L)
      .as[(Long, String, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect().toSet
    assert(capped == general, "cap fallback must not change the diff")
    val expected = Set(
      (10L, "update", Some(10.0), Some(0.0), Some(999.0), Some(999.0)),
      (30L, "delete", Some(30.0), Some(0.0), None, None),
      (40L, "delete", Some(40.0), Some(0.0), None, None),
      (50000L, "insert", None, None, Some(1.0), Some(2.0)))
    assert(fast == expected, s"got $fast")
    // a non-eligible pair (v1 pins pending sidecars) takes the general
    // path and still answers: stage one more change (version v2), diff
    // v1→v2 — only the new change appears
    Layout.upsertLogical(spark, s"$base/z",
      Seq((11L, 111.0, 111.0)).toDF("id", "a", "b"), "id")
    val v2 = latestVersion(s"$base/z")
    val d12 = Layout.snapshotDiff(spark, s"$base/z", v1, v2, "id")
      .as[(Long, String, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect().toSet
    assert(d12 == Set((11L, "update", Some(11.0), Some(0.0), Some(111.0), Some(111.0))), s"$d12")
    // a version swept by the log's retention refuses the diff loudly
    OptimisticCommit.expireCommitsKeepLast(spark, s"$base/z", 1)
    val swept = intercept[IllegalArgumentException](
      Layout.snapshotDiff(spark, s"$base/z", v0, v2, "id"))
    assert(swept.getMessage.contains(s"no commit v=$v0"), swept.getMessage)
    // keyed diff refuses duplicate keys loudly
    val dup = java.nio.file.Files.createTempDirectory("graft-zdup").toString
    Layout.writeZordered(grid.where(col("id") < 100)
      .unionAll(grid.where(col("id") < 100)), s"$dup/z",
      "a", "b", bits = 4, numFiles = 2)
    val dv = latestVersion(s"$dup/z")
    val err = intercept[IllegalArgumentException](
      Layout.snapshotDiffGeneral(spark, s"$dup/z", dv, dv, "id"))
    assert(err.getMessage.contains("duplicate"))
  }

  test("quantileMatching: sketch fold bit-identical to the whole-scan sample, interior files from metadata, exact under k, fences") {
    val base = java.nio.file.Files.createTempDirectory("graft-zquant").toString
    Layout.writeZordered(grid, s"$base/z", "a", "b", bits = 6, numFiles = 64)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    Layout.writeQuantileIndex(spark, s"$base/z", "b", "id", k = 32)
    // the claim: the pushdown's folded sample IS the whole-scan sample
    def direct(df: org.apache.spark.sql.DataFrame,
        r: Seq[(String, Double, Double)]): (Long, Double, Double) = {
      val sk = graft.ops.Sketches.quantileSketch(
        df.where(r.map { case (cc, lo, hi) =>
          col(cc) >= lo && col(cc) <= hi
        }.reduce(_ && _)).withColumn("g", lit(1)), "g", col("id"), col("b"),
        k = 32)
      val row = graft.ops.Sketches.quantileEstimate(sk, "g").head()
      (row.getAs[Long]("n_seen"), row.getAs[Double]("p50"),
        row.getAs[Double]("p90"))
    }
    // whole space: zero files scanned, estimate from the index alone
    val whole = Seq(("a", 0.0, 99.0), ("b", 0.0, 99.0))
    val (n0, q0, f0, s0) = Layout.quantileMatching(spark, s"$base/z", whole,
      "b", "id", probs = Seq(0.5, 0.9), k = 32, routeBelowFiles = 0)
    assert(f0 == 64 && s0 == 0, s"($f0, $s0)")
    assert((n0, q0(0).get, q0(1).get) == direct(grid, whole))
    // selective rectangle: bit-identical, most files untouched
    val sel = Seq(("a", 23.0, 31.0), ("b", 47.0, 52.0))
    val (n1, q1, f1, s1) = Layout.quantileMatching(spark, s"$base/z", sel,
      "b", "id", probs = Seq(0.5, 0.9), k = 32, routeBelowFiles = 0)
    // AUTO-ROUTE twin: identical values through the pruned-scan form
    val (nr, qr, fr, _) = Layout.quantileMatching(spark, s"$base/z", sel,
      "b", "id", probs = Seq(0.5, 0.9), k = 32)
    assert((nr, qr) == ((n1, q1)) && fr == 0, s"routed: ($nr, $qr, $fr)")
    assert((n1, q1(0).get, q1(1).get) == direct(grid, sel))
    assert(f1 + s1 < 32, s"9x6 rectangle must skip most files, touched ${f1 + s1}")
    // fewer matching rows than k: the sample is the population — exact
    val tiny = Seq(("a", 10.0, 11.0), ("b", 5.0, 7.0))
    val (n2, q2, _, _) = Layout.quantileMatching(spark, s"$base/z", tiny,
      "b", "id", probs = Seq(0.5), k = 32)
    val ex = grid.where(col("a").between(10.0, 11.0) && col("b").between(5.0, 7.0))
      .agg(round(expr("percentile(b, 0.5)"), 4)).head().getDouble(0)
    assert(n2 < 32 && q2(0).get == ex, s"($n2, ${q2(0)}, $ex)")
    // empty rectangle: n_seen 0, SQL-NULL quantiles, nothing touched
    val (nE, qE, fE, sE) = Layout.quantileMatching(spark, s"$base/z",
      Seq(("a", 200.0, 300.0)), "b", "id", probs = Seq(0.5), k = 32)
    assert(nE == 0 && qE == Seq(None) && fE == 0 && sE == 0)
    // incremental refresh carries per-file samples for the new files
    val extra = spark.range(10000, 12000).select(col("id"),
      (col("id") % 100).cast("double").as("a"),
      (col("id") / lit(100)).cast("long").cast("double").as("b"))
    Layout.appendZordered(extra, s"$base/z", numFiles = 4)
    Layout.refreshManifest(spark, s"$base/z", Seq("a", "b"))
    assert(Layout.refreshQuantileIndex(spark, s"$base/z", "b", "id", k = 32) == 4L)
    val wide = Seq(("a", 0.0, 99.0), ("b", 0.0, 199.0))
    val (n3, q3, _, _) = Layout.quantileMatching(spark, s"$base/z", wide,
      "b", "id", probs = Seq(0.5, 0.9), k = 32)
    assert((n3, q3(0).get, q3(1).get) == direct(grid.unionAll(extra), wide))
    // a mismatched consult k refuses loudly (the bucket-count lesson)
    val errK = intercept[IllegalArgumentException](
      Layout.quantileMatching(spark, s"$base/z", whole, "b", "id", k = 64))
    assert(errK.getMessage.contains("k mismatch"))
    // a mismatched REFRESH k refuses too — a smaller k would silently
    // under-sample the new files into a mixed-k index whose head-row
    // check still passes (the r15 ADVICE finding)
    val errR = intercept[IllegalArgumentException](
      Layout.refreshQuantileIndex(spark, s"$base/z", "b", "id", k = 16))
    assert(errR.getMessage.contains("k mismatch"))
    // a missing index refuses loudly
    val errM = intercept[IllegalArgumentException](
      Layout.quantileMatching(spark, s"$base/z", whole, "a", "id", k = 32))
    assert(errM.getMessage.contains("no quantile index"))
    // MoR fence: pending tombstones make the sketches a lie — refuse
    Layout.deleteLogical(spark, s"$base/z", Seq(17L).toDF("id"), "id")
    intercept[IllegalArgumentException](
      Layout.quantileMatching(spark, s"$base/z", whole, "b", "id", k = 32))
  }

  test("upsertByKey: replaces matched keys, inserts new ones, untouched partitions byte-identical, replay-idempotent") {
    val base = java.nio.file.Files.createTempDirectory("graft-zup").toString
    Layout.buildZorderedEpoch(grid.where(col("id") % 4 === 0), s"$base/z",
      Seq("a", "b"), bits = 6, numFiles = 4)
    for (r <- 1 to 3)
      Layout.appendZorderedEpoch(grid.where(col("id") % 4 === r), s"$base/z", r,
        numFiles = 4)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    Layout.writeValueIndex(spark, s"$base/z", "id")
    def filesOf(): Map[String, Set[String]] = {
      val root = new java.io.File(s"$base/z")
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    }
    val before = filesOf()
    // batch: rewrite two existing keys (ids 8 and 17 — epochs 0 and 1)
    // and insert two new ones; ids 20000+ are outside the grid
    val upd = Seq((8L, 999.0, 999.0), (17L, 888.0, 888.0),
      (20000L, 1.0, 1.0), (20001L, 2.0, 2.0)).toDF("id", "a", "b")
    val (replaced, inserted) = Layout.upsertByKey(spark, s"$base/z", upd, "id",
      batchId = Some(4L))
    assert(replaced == 2L && inserted == 4L, s"got ($replaced, $inserted)")
    val after = filesOf()
    // 8 % 4 == 0 and 17 % 4 == 1: epochs 2 and 3 hold no matched keys
    assert(after("batch=2") == before("batch=2") &&
      after("batch=3") == before("batch=3"),
      "partitions without matched keys must stay byte-identical")
    assert(after.contains("batch=4"), "the update batch lands as its own epoch")
    // the commit unit, then latest-wins is physical
    Layout.refreshManifest(spark, s"$base/z", Seq("a", "b"), allowGone = true)
    Layout.refreshValueIndex(spark, s"$base/z", "id", allowGone = true)
    val all = spark.read.parquet(s"$base/z")
    assert(all.count() == 10002, "2 replaced in place + 2 inserted")
    assert(Layout.pointRead(spark, s"$base/z", "id", lit(8L))
      .select("a").head().getDouble(0) == 999.0)
    assert(Layout.pointRead(spark, s"$base/z", "id", lit(20001L)).count() == 1)
    // a replayed micro-batch (same batchId) is a no-op on the outcome
    val (r2, i2) = Layout.upsertByKey(spark, s"$base/z", upd, "id",
      batchId = Some(4L))
    assert(r2 == 0L && i2 == 4L, s"replay must find no older victims, got ($r2, $i2)")
    Layout.refreshManifest(spark, s"$base/z", Seq("a", "b"), allowGone = true)
    Layout.refreshValueIndex(spark, s"$base/z", "id", allowGone = true)
    assert(spark.read.parquet(s"$base/z").count() == 10002)
    assert(Layout.pointRead(spark, s"$base/z", "id", lit(17L))
      .select("b").head().getDouble(0) == 888.0)
    // flat layouts refuse with the compose-instead contract
    grid.limit(10).write.parquet(s"$base/flat")
    intercept[IllegalArgumentException](
      Layout.upsertByKey(spark, s"$base/flat", upd, "id"))
    // duplicate keys within one batch refuse BEFORE anything lands —
    // both copies would enter the epoch and break latest-wins
    val dup = Seq((8L, 1.0, 1.0), (8L, 2.0, 2.0)).toDF("id", "a", "b")
    intercept[IllegalArgumentException](
      Layout.upsertByKey(spark, s"$base/z", dup, "id", batchId = Some(9L)))
    assert(!new java.io.File(s"$base/z/batch=9").exists,
      "a refused batch must leave no partition behind")
  }

  test("merge-on-read deletes: O(keys) logical delete, reads exact, metadata pushdown fenced, apply folds to physical") {
    val base = java.nio.file.Files.createTempDirectory("graft-zmor").toString
    Layout.buildZorderedEpoch(grid.where(col("id") % 4 === 0), s"$base/z",
      Seq("a", "b"), bits = 6, numFiles = 4)
    for (r <- 1 to 3)
      Layout.appendZorderedEpoch(grid.where(col("id") % 4 === r), s"$base/z", r,
        numFiles = 4)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    Layout.writeValueIndex(spark, s"$base/z", "id")
    def filesOf(): Map[String, Set[String]] = {
      val root = new java.io.File(s"$base/z")
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    }
    val before = filesOf()
    assert(Layout.deleteLogical(spark, s"$base/z",
      spark.range(100, 120).toDF("id"), "id") == 20L)
    assert(filesOf() == before,
      "a logical delete must move ZERO data bytes — that is its entire point")
    // serve-path exactness while deletes stay logical
    val rect = Seq(("a", 0.0, 30.0), ("b", 0.0, 10.0))
    val full = spark.read.parquet(s"$base/z")
      .where(col("a").between(0.0, 30.0) && col("b").between(0.0, 10.0) &&
        !col("id").between(100, 119)).select("id", "a", "b")
    val mor = Layout.prunedReadMor(spark, s"$base/z", rect, "id")
      .select("id", "a", "b")
    assert(mor.exceptAll(full).isEmpty && full.exceptAll(mor).isEmpty)
    assert(Layout.pointReadMor(spark, s"$base/z", "id", lit(105L)).count() == 0)
    assert(Layout.pointReadMor(spark, s"$base/z", "id", lit(150L)).count() == 1)
    // idempotent and incremental
    assert(Layout.deleteLogical(spark, s"$base/z",
      spark.range(100, 120).toDF("id"), "id") == 0L)
    assert(Layout.deleteLogical(spark, s"$base/z",
      spark.range(115, 125).toDF("id"), "id") == 5L)
    // the manifest's counts cannot see logical deletes → pushdowns fence
    intercept[IllegalArgumentException](
      Layout.countMatching(spark, s"$base/z", Seq(("a", 0.0, 99.0))))
    intercept[IllegalArgumentException](
      Layout.aggMatching(spark, s"$base/z", Seq(("a", 0.0, 99.0)), "b"))
    // SIDECAR-KEY FENCE: with id-tombstones pending, a MoR read under a
    // DIFFERENT key column cannot fold them — it must refuse loudly,
    // naming the pending sidecar, instead of silently serving the
    // tombstoned rows (the quiet takedown-path violation)
    for (read <- Seq(
        () => Layout.readLayoutMor(spark, s"$base/z", "a"),
        () => Layout.prunedReadMor(spark, s"$base/z", rect, "a"),
        () => Layout.pointReadMor(spark, s"$base/z", "a", lit(5.0)))) {
      val err = intercept[IllegalArgumentException](read().collect())
      assert(err.getMessage.contains("__tombstones_id"), err.getMessage)
    }
    // fold to physical: rows leave, sidecar clears, pushdowns re-arm
    assert(Layout.applyTombstones(spark, s"$base/z", "id", Seq("a", "b")) == 25L)
    assert(spark.read.parquet(s"$base/z").count() == 10000 - 25)
    assert(Layout.pointRead(spark, s"$base/z", "id", lit(105L)).count() == 0,
      "applied tombstones are physically gone")
    assert(Layout.countMatching(spark, s"$base/z", Seq(("a", 0.0, 99.0)))._1
      == 10000 - 25, "pushdowns re-arm once tombstones are applied")
    // nothing pending: apply is a no-op
    assert(Layout.applyTombstones(spark, s"$base/z", "id", Seq("a", "b")) == 0L)
  }

  test("commit versions: time travel across appends and logical deletes, loud expiry on physical rewrite, versions independent") {
    val base = java.nio.file.Files.createTempDirectory("graft-zsnap").toString
    Layout.buildZorderedEpoch(grid.where(col("id") % 4 === 0), s"$base/z",
      Seq("a", "b"), bits = 6, numFiles = 4)
    Layout.appendZorderedEpoch(grid.where(col("id") % 4 === 1), s"$base/z", 1,
      numFiles = 4)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    Layout.writeValueIndex(spark, s"$base/z", "id")
    // v0 pins the 2-epoch state
    val v0 = latestVersion(s"$base/z")
    // appends do NOT disturb v0
    Layout.appendZorderedEpoch(grid.where(col("id") % 4 === 2), s"$base/z", 2,
      numFiles = 4)
    assert(OptimisticCommit.readCommit(spark, s"$base/z", v0, Some("id")).count() == 5000)
    assert(spark.read.parquet(s"$base/z").count() == 7500)
    // a logical delete after v0: v0 still serves the PRE-delete state,
    // the delete's own version pins the deleted view
    Layout.deleteLogical(spark, s"$base/z", spark.range(0, 4000, 4).toDF("id"), "id")
    val v1 = latestVersion(s"$base/z")
    assert(v1 > v0)
    assert(OptimisticCommit.readCommit(spark, s"$base/z", v0, Some("id")).count() == 5000,
      "an older version must not see a later logical delete")
    assert(OptimisticCommit.readCommit(spark, s"$base/z", v1, Some("id")).count() == 7500 - 1000,
      "a version after the logical delete pins the deleted view")
    assert(OptimisticCommit.readCommit(spark, s"$base/z", v1, Some("id"))
      .where(col("id") === 8).count() == 0)
    // the fold rewrites files → BOTH versions expire loudly
    Layout.refreshManifest(spark, s"$base/z", Seq("a", "b"), allowGone = true)
    Layout.refreshValueIndex(spark, s"$base/z", "id", allowGone = true)
    Layout.applyTombstones(spark, s"$base/z", "id", Seq("a", "b"))
    intercept[IllegalArgumentException](
      OptimisticCommit.readCommit(spark, s"$base/z", v0, Some("id")))
    intercept[IllegalArgumentException](
      OptimisticCommit.readCommit(spark, s"$base/z", v1, Some("id")))
    // the fold's own version serves the post-fold state
    val v2 = latestVersion(s"$base/z")
    assert(OptimisticCommit.readCommit(spark, s"$base/z", v2, Some("id")).count() == 6500)
  }

  test("schema evolution: later epoch's new column reads as null for old rows, new column prunable after manifest rewrite") {
    val base = java.nio.file.Files.createTempDirectory("graft-zevo").toString
    Layout.buildZorderedEpoch(grid.where(col("id") % 2 === 0), s"$base/z",
      Seq("a", "b"), bits = 6, numFiles = 4)
    Layout.appendZorderedEpoch(
      grid.where(col("id") % 2 === 1)
        .withColumn("score", (col("id") % 10).cast("double")),
      s"$base/z", 1, numFiles = 4)
    // merged full read: union schema, nulls for the pre-evolution epoch
    val all = Layout.readLayout(spark, s"$base/z")
    assert(all.columns.contains("score") && all.count() == 10000)
    assert(all.where(col("score").isNull).count() == 5000,
      "older epoch's rows must carry null for the added column")
    // pruned read spanning both epochs serves the union schema too
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    val pruned = Layout.prunedRead(spark, s"$base/z", Seq(("a", 10.0, 20.0)))
    assert(pruned.columns.contains("score"))
    assert(pruned.count() ==
      all.where(col("a").between(10.0, 20.0)).count())
    // the NEW column becomes prunable after a manifest naming it: files
    // predating it carry null bounds → skipped by every score range
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b", "score"))
    val byScore = Layout.prunedRead(spark, s"$base/z", Seq(("score", 3.0, 3.0)))
    assert(byScore.count() == all.where(col("score") === 3.0).count())
    val touched = Layout.matchingFiles(spark, s"$base/z",
      Seq(("score", 0.0, 9.0))).length
    val total = Layout.matchingFiles(spark, s"$base/z",
      Seq(("a", 0.0, 99.0))).length
    assert(touched < total,
      s"pre-evolution files (null score bounds) must be skipped: $touched/$total")
  }

  test("evolved-key bulk delete: value index on a later-epoch column routes, pre-evolution partitions survive untouched") {
    val base = java.nio.file.Files.createTempDirectory("graft-zevok").toString
    // epoch 0 predates the key column entirely; epoch 1 adds it
    Layout.buildZorderedEpoch(grid.where(col("id") < 5000), s"$base/z",
      Seq("a", "b"), bits = 6, numFiles = 4)
    Layout.appendZorderedEpoch(
      grid.where(col("id") >= 5000).withColumn("k", col("id") + 100000L),
      s"$base/z", 1, numFiles = 4)
    Layout.writeValueIndex(spark, s"$base/z", "k")
    def filesOf(name: String): Set[String] =
      new java.io.File(s"$base/z/$name").listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).toSet
    val before = filesOf("batch=0")
    val removed = Layout.deleteByKeys(spark, s"$base/z",
      Seq(105000L, 107777L).toDF("k"), "k")
    assert(removed == 2L, s"evolved-key victims, got $removed")
    Layout.refreshValueIndex(spark, s"$base/z", "k", allowGone = true)
    assert(spark.read.parquet(s"$base/z").count() == 9998)
    assert(filesOf("batch=0") == before,
      "the pre-evolution epoch holds no keys — it must stay byte-identical " +
        "(a hash-42 collision candidate reads k as null and finds no victims)")
    assert(Layout.pointRead(spark, s"$base/z", "k", lit(105000L)).count() == 0)
    assert(Layout.pointRead(spark, s"$base/z", "k", lit(106000L)).count() == 1)
  }

  test("crash recovery: flat-root set-aside restores before delete, wedged tombstone fold self-repairs") {
    // (a) a FLAT layout's delete swaps the data ROOT; a crash between
    // the two renames leaves only <root>_old — the next call must
    // restore it and proceed, not throw FileNotFound
    val base = java.nio.file.Files.createTempDirectory("graft-zcrash").toString
    Layout.writeZordered(grid, s"$base/z", "a", "b", bits = 6, numFiles = 8)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    assert(new java.io.File(s"$base/z").renameTo(new java.io.File(s"$base/z_old")))
    val removed = Layout.deleteMatching(spark, s"$base/z",
      Seq(("a", 10.0, 12.0), ("b", 20.0, 22.0)), Nil)
    assert(removed == 9L, s"recovery then delete, got $removed")
    assert(!new java.io.File(s"$base/z_old").exists)
    // (b) applyTombstones crashed between its physical deletes and its
    // refreshes: sidecar still pending, indexes stale — the re-run must
    // self-repair and complete, not refuse on freshness
    Layout.buildZorderedEpoch(grid.where(col("id") % 2 === 0), s"$base/e",
      Seq("a", "b"), bits = 6, numFiles = 4)
    Layout.appendZorderedEpoch(grid.where(col("id") % 2 === 1), s"$base/e", 1,
      numFiles = 4)
    Layout.writeManifest(spark, s"$base/e", Seq("a", "b"))
    Layout.writeValueIndex(spark, s"$base/e", "id")
    Layout.deleteLogical(spark, s"$base/e", spark.range(50, 60).toDF("id"), "id")
    // simulate the crash: the physical half ran, nothing else did
    assert(Layout.deleteByKeys(spark, s"$base/e",
      spark.range(50, 60).toDF("id"), "id") == 10L)
    // the re-run: head repair → re-apply (0 victims left) → sidecar clear
    assert(Layout.applyTombstones(spark, s"$base/e", "id", Seq("a", "b")) == 0L)
    assert(!new java.io.File(Layout.tombstonePath(s"$base/e", "id")).exists,
      "the wedged fold must complete and clear the sidecar")
    assert(spark.read.parquet(s"$base/e").count() == 9990)
    assert(Layout.countMatching(spark, s"$base/e", Seq(("a", 0.0, 99.0)))._1 == 9990,
      "pushdowns must re-arm after the repaired fold")
  }

  test("sampled boundaries: deterministic, ~1/every rows, buckets still spread; k-column round-robin key") {
    // sampleKeep is a uniform systematic 1/8 over sequential ids
    val kept = grid.where(Layout.sampleKeep("id", 8)).count()
    assert(math.abs(kept - 10000 / 8.0) < 150, s"sample fraction off: $kept")
    // identical inputs → identical keys (the determinism contract), and
    // sampled buckets must still spread (not all rows one bucket)
    val k1 = Layout.zorderKey(grid, "a", "b", bits = 6, sampleBy = Some(("id", 8)))
    val k2 = Layout.zorderKey(grid, "a", "b", bits = 6, sampleBy = Some(("id", 8)))
    assert(k1.select("id", "zkey").exceptAll(k2.select("id", "zkey")).isEmpty)
    assert(k1.select("__zb_a").distinct().count() >= 32,
      "sampled boundaries must still distribute buckets")
    // every=1 ≡ the exact full-input path
    val exact = Layout.zorderKey(grid, "a", "b", bits = 6)
    val one = Layout.zorderKey(grid, "a", "b", bits = 6, sampleBy = Some(("id", 1)))
    assert(one.select("id", "zkey").exceptAll(exact.select("id", "zkey")).isEmpty)
    // k=3 round-robin: bucket i's bit j lands at position j*3+i
    val k3 = Layout.zorderKeyCols(grid
        .withColumn("c", (col("id") % 7).cast("double")),
      Seq("a", "b", "c"), bits = 2)
    val r = k3.select("__zb_0", "__zb_1", "__zb_2", "zkey").head()
    val (b0, b1, b2) = (r.getInt(0), r.getInt(1), r.getInt(2))
    val expect = (0 until 2).map(j =>
      (((b0 >> j) & 1).toLong << (j * 3)) + (((b1 >> j) & 1).toLong << (j * 3 + 1)) +
        (((b2 >> j) & 1).toLong << (j * 3 + 2))).sum
    assert(r.getLong(3) == expect, s"round-robin interleave mismatch: $r vs $expect")
    assert(k3.agg(max("zkey")).head().getLong(0) < 64L, "k*bits=6 → zkey < 2^6")
    // and the 2-col wrapper is exactly the k=2 generalization
    val g2 = Layout.zorderKeyCols(grid, Seq("a", "b"), bits = 6)
      .withColumnRenamed("__zb_0", "__zb_a").withColumnRenamed("__zb_1", "__zb_b")
    assert(exact.exceptAll(g2).isEmpty && g2.exceptAll(exact).isEmpty)
  }

  test("merge-on-read upserts: O(feed) staging, latest-wins serve, takedown beats update, fold converges") {
    val base = java.nio.file.Files.createTempDirectory("graft-zupmor").toString
    Layout.buildZorderedEpoch(grid.where(col("id") % 4 === 0), s"$base/z",
      Seq("a", "b"), bits = 6, numFiles = 4)
    for (r <- 1 to 3)
      Layout.appendZorderedEpoch(grid.where(col("id") % 4 === r), s"$base/z", r,
        numFiles = 4)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    Layout.writeValueIndex(spark, s"$base/z", "id")
    def filesOf(): Map[String, Set[String]] = {
      val root = new java.io.File(s"$base/z")
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    }
    val before = filesOf()
    // stage: replace id 8 (epoch 0), insert id 20000 (outside the grid)
    val u1 = Seq((8L, 999.0, 999.0), (20000L, 1.0, 1.0)).toDF("id", "a", "b")
    assert(Layout.upsertLogical(spark, s"$base/z", u1, "id") == 2L)
    assert(filesOf() == before,
      "a logical upsert must move ZERO data bytes — that is its entire point")
    // serve: latest staged version replaces, unseen key inserts — even
    // through a point read whose base candidate set is EMPTY
    assert(Layout.pointReadMor(spark, s"$base/z", "id", lit(8L))
      .select("a").head().getDouble(0) == 999.0)
    assert(Layout.pointReadMor(spark, s"$base/z", "id", lit(20000L)).count() == 1)
    // the replaced row's OLD coordinates leave the rectangle serve, the
    // staged insert's coordinates enter it
    val rect = Seq(("a", 7.0, 9.0), ("b", 0.0, 0.0))
    val served = Layout.prunedReadMor(spark, s"$base/z", rect, "id")
      .select("id").as[Long].collect().toSet
    assert(!served.contains(8L), "replaced row's old coords must leave the rect")
    assert(served.contains(7L) && served.contains(9L))
    val rect2 = Seq(("a", 1.0, 1.0), ("b", 1.0, 1.0))
    assert(Layout.prunedReadMor(spark, s"$base/z", rect2, "id")
      .select("id").as[Long].collect().toSet.contains(20000L),
      "staged insert must appear in range serves")
    // latest staged batch wins per key
    assert(Layout.upsertLogical(spark, s"$base/z",
      Seq((8L, 777.0, 777.0)).toDF("id", "a", "b"), "id") == 1L)
    assert(Layout.pointReadMor(spark, s"$base/z", "id", lit(8L))
      .select("a").head().getDouble(0) == 777.0)
    // refusals: duplicate keys, null keys
    intercept[IllegalArgumentException](Layout.upsertLogical(spark, s"$base/z",
      Seq((5L, 1.0, 1.0), (5L, 2.0, 2.0)).toDF("id", "a", "b"), "id"))
    intercept[IllegalArgumentException](Layout.upsertLogical(spark, s"$base/z",
      Seq((Option.empty[Long], 1.0, 1.0)).toDF("id", "a", "b"), "id"))
    // full logical table: base minus the replaced key's base row, plus
    // the two staged rows
    assert(Layout.readLayoutMor(spark, s"$base/z", "id").count() == 10001)
    // takedown beats update: tombstone the staged insert
    assert(Layout.deleteLogical(spark, s"$base/z",
      Seq(20000L).toDF("id"), "id") == 1L)
    assert(Layout.pointReadMor(spark, s"$base/z", "id", lit(20000L)).count() == 0)
    assert(Layout.readLayoutMor(spark, s"$base/z", "id").count() == 10000)
    // metadata pushdowns fence while ANY MoR sidecar is pending
    intercept[IllegalArgumentException](
      Layout.countMatching(spark, s"$base/z", Seq(("a", 0.0, 99.0))))
    // fold: latest-per-key through one physical upsert, tombstoned keys
    // never resurrect, sidecar clears
    val (replaced, inserted) =
      Layout.applyUpsertDeltas(spark, s"$base/z", "id", Seq("a", "b"))
    assert(replaced == 1L && inserted == 1L, s"got ($replaced, $inserted)")
    assert(Layout.applyTombstones(spark, s"$base/z", "id", Seq("a", "b")) == 0L,
      "the tombstoned key never landed physically")
    assert(spark.read.parquet(s"$base/z").count() == 10000)
    assert(Layout.pointRead(spark, s"$base/z", "id", lit(8L))
      .select("a").head().getDouble(0) == 777.0)
    assert(Layout.pointRead(spark, s"$base/z", "id", lit(20000L)).count() == 0)
    // 9999: the replaced row now lives at a=777, outside the rectangle
    assert(Layout.countMatching(spark, s"$base/z", Seq(("a", 0.0, 99.0)))._1
      == 9999L, "pushdowns re-arm once both sidecars fold")
    // nothing pending: the fold is a no-op
    assert(Layout.applyUpsertDeltas(spark, s"$base/z", "id", Seq("a", "b"))
      == ((0L, 0L)))
  }

  test("an aborted first staging leaves no sidecar shell: pushdowns stay armed, re-delete still lands") {
    val base = java.nio.file.Files.createTempDirectory("graft-zshell").toString
    Layout.writeZordered(grid, s"$base/z", "a", "b", bits = 6, numFiles = 8)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    Layout.writeValueIndex(spark, s"$base/z", "id")
    // a takedown batch of only null keys stages NOTHING — and must not
    // leave an empty sidecar root that would fence the pushdowns forever
    assert(Layout.deleteLogical(spark, s"$base/z",
      Seq(Option.empty[Long]).toDF("id"), "id") == 0L)
    assert(Layout.countMatching(spark, s"$base/z", Seq(("a", 0.0, 99.0)))._1
      == 10000L, "no mutation staged -> nothing to fence")
    // and a real batch afterwards lands as epoch 0 exactly as first-time
    assert(Layout.deleteLogical(spark, s"$base/z",
      Seq(5L).toDF("id"), "id") == 1L)
    intercept[IllegalArgumentException](
      Layout.countMatching(spark, s"$base/z", Seq(("a", 0.0, 99.0))))
    assert(Layout.pointReadMor(spark, s"$base/z", "id", lit(5L)).count() == 0)
  }

  test("drift→recluster loop: monitor flags the drifted column, recluster resets it, rows never move in or out") {
    val base = java.nio.file.Files.createTempDirectory("graft-zdrift").toString
    // the canonical drifted stream: boundaries from the LOW half of b,
    // then the high half appended against the frozen bounds
    Layout.writeZordered(grid.where(col("b") <= 49.0), s"$base/z", "a", "b",
      bits = 6, numFiles = 8)
    Layout.appendZordered(grid.where(col("b") > 49.0), s"$base/z", numFiles = 8)
    def drift(): Map[String, Double] =
      Layout.layoutDrift(spark, s"$base/z").collect()
        .map(r => r.getString(1) -> r.getDouble(3)).toMap
    val before = drift()
    assert(before("b") > 0.35,
      s"half the mass sits above every frozen boundary: ${before("b")}")
    assert(before("a") < 0.25,
      s"a is identically distributed in both halves: ${before("a")}")
    val v0 = latestVersion(s"$base/z")
    val (_, _, bounds0) = Layout.readLayoutMeta(spark, s"$base/z")
    val schema0 = Layout.layoutSchema(spark, s"$base/z")
    Layout.reclusterLayout(spark, s"$base/z", numFiles = 8)
    // rows never move in or out
    val back = spark.read.parquet(s"$base/z").select("id", "a", "b")
    assert(back.count() == 10000 &&
      back.exceptAll(grid).isEmpty && grid.exceptAll(back).isEmpty)
    // the monitor resets to the discreteness floor; meta carries fresh
    // bounds on the drifted column; identity (schema) carries over
    val after = drift()
    assert(after("b") < 0.25 && after("b") < before("b") / 2,
      s"recluster must reset the drift: ${before("b")} -> ${after("b")}")
    val (_, _, bounds1) = Layout.readLayoutMeta(spark, s"$base/z")
    assert(bounds0(1) != bounds1(1), "b's boundaries must be re-derived")
    assert(Layout.layoutSchema(spark, s"$base/z") == schema0,
      "recluster must not forget the table's schema")
    // every file changed: the pinned version expires LOUDLY
    intercept[IllegalArgumentException](
      OptimisticCommit.readCommit(spark, s"$base/z", v0))
    // and pruning serves exactly again after the index rewrite
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    val pr = Layout.prunedRead(spark, s"$base/z",
      Seq(("a", 0.0, 30.0), ("b", 60.0, 80.0))).select("id", "a", "b")
    val full = grid.where(col("a").between(0.0, 30.0) &&
      col("b").between(60.0, 80.0))
    assert(pr.exceptAll(full).isEmpty && full.exceptAll(pr).isEmpty)
  }

  test("layoutDrift: manifest histogram fold ≡ the audit scan; no-action maintenance reads metadata only") {
    val base = java.nio.file.Files.createTempDirectory("graft-zdriftm").toString
    // the canonical drifted fixture, WITH the manifest written — the
    // consult must answer from the zh_<c> histograms, exactly
    Layout.writeZordered(grid.where(col("b") <= 49.0), s"$base/z", "a", "b",
      bits = 6, numFiles = 8)
    Layout.appendZordered(grid.where(col("b") > 49.0), s"$base/z", numFiles = 8)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    Layout.writeValueIndex(spark, s"$base/z", "id")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, String, Int, Double)] =
      df.as[(Int, String, Int, Double)].collect().toSet
    val meta = rows(Layout.layoutDrift(spark, s"$base/z"))
    val scan = rows(Layout.auditDrift(spark, s"$base/z"))
    assert(meta == scan, s"metadata fold must equal the audit scan:\n$meta\n$scan")
    assert(meta.exists { case (_, c, _, tv) => c == "b" && tv > 0.35 },
      "the drifted column must still flag through the metadata path")
    // the fold really came from metadata: bytes read during the consult
    // stay metadata-sized while the audit scan reads the table (the
    // zero-table-sized-jobs receipt, measured not asserted-by-plan)
    val st = org.apache.hadoop.fs.FileSystem
      .getGlobalStorageStatistics.get("file")
    val dataBytes = {
      val root = new org.apache.hadoop.fs.Path(s"$base/z")
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(root).getLength
    }
    def bytesDuring(body: => Unit): Long = {
      val before = st.getLong("bytesRead"); body
      st.getLong("bytesRead") - before
    }
    val metaBytes = bytesDuring(Layout.layoutDrift(spark, s"$base/z").collect())
    val scanBytes = bytesDuring(Layout.auditDrift(spark, s"$base/z").collect())
    assert(scanBytes > dataBytes / 2,
      s"audit must read the table ($scanBytes of $dataBytes)")
    assert(metaBytes < dataBytes / 4,
      s"metadata consult must NOT read the table ($metaBytes of $dataBytes)")
    // a no-action maintainLayout run (gates not tripped) is metadata-only
    val mBytes = bytesDuring {
      graft.streaming.OnlineRefresh.maintainLayout(spark, s"$base/z",
        Seq("a", "b"), "id", reclusterAt = 0.99, maxFiles = 10000).collect()
      ()
    }
    assert(mBytes < dataBytes / 4,
      s"no-action maintenance must not scan the table ($mBytes of $dataBytes)")
    // incremental refresh keeps the histograms exact: append, refresh,
    // consult again — still the scan's answer
    val extra = spark.range(10000, 14000).select(col("id"),
      (col("id") % 100).cast("double").as("a"),
      lit(99.0).as("b"))
    Layout.appendZordered(extra, s"$base/z", numFiles = 2)
    Layout.refreshManifest(spark, s"$base/z", Seq("a", "b"))
    val meta2 = rows(Layout.layoutDrift(spark, s"$base/z"))
    val scan2 = rows(Layout.auditDrift(spark, s"$base/z"))
    assert(meta2 == scan2, "fold must stay exact across incremental refresh")
    // a stale manifest must NOT serve wrong drift — the consult falls
    // back to the scan (append without refresh)
    Layout.appendZordered(extra.where(col("id") < 10100), s"$base/z",
      numFiles = 1)
    val stale = rows(Layout.layoutDrift(spark, s"$base/z"))
    assert(stale == rows(Layout.auditDrift(spark, s"$base/z")),
      "stale manifest must fall back to the scan, not serve stale drift")
    // bits above the histogram cap: the manifest builds WITHOUT zh (no
    // 2^bits-wide aggregate — the pre-r16 manifest, never a broken
    // build) and the drift consult falls back to the scan
    val wide = java.nio.file.Files.createTempDirectory("graft-zwide").toString
    Layout.writeZordered(grid, s"$wide/z", "a", "b",
      bits = Layout.ManifestZhMaxBits + 2, numFiles = 4)
    Layout.writeManifest(spark, s"$wide/z", Seq("a", "b"))
    val mCols = spark.read.parquet(Layout.manifestPath(s"$wide/z")).columns
    assert(!mCols.exists(_.startsWith("zh_")),
      s"bits > cap must not materialize histograms: ${mCols.mkString(",")}")
    assert(rows(Layout.layoutDrift(spark, s"$wide/z")) ==
      rows(Layout.auditDrift(spark, s"$wide/z")),
      "above the cap the consult is the audit scan")
  }

  test("recluster on the epoch layout: newest epoch keeps its partition for replay, the rest folds") {
    val base = java.nio.file.Files.createTempDirectory("graft-zreclep").toString
    Layout.buildZorderedEpoch(grid.where(col("id") % 4 === 0), s"$base/z",
      Seq("a", "b"), bits = 6, numFiles = 4)
    for (r <- 1 to 3)
      Layout.appendZorderedEpoch(grid.where(col("id") % 4 === r), s"$base/z", r,
        numFiles = 4)
    Layout.reclusterLayout(spark, s"$base/z", numFiles = 4)
    val parts = new java.io.File(s"$base/z").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet
    assert(parts == Set("batch=0", "batch=3"),
      s"fold into oldest, newest verbatim on its own id: $parts")
    val back = spark.read.parquet(s"$base/z").select("id", "a", "b")
    assert(back.count() == 10000 &&
      back.exceptAll(grid).isEmpty && grid.exceptAll(back).isEmpty)
    // a replayed last micro-batch re-keys against the NEW meta and
    // overwrites its own partition — the row set cannot move
    Layout.appendZorderedEpoch(grid.where(col("id") % 4 === 3), s"$base/z", 3,
      numFiles = 4)
    assert(spark.read.parquet(s"$base/z").count() == 10000)
  }

  test("sumMatching: exact from metadata + boundary scan, integral-only, MoR-fenced") {
    val base = java.nio.file.Files.createTempDirectory("graft-zsum").toString
    Layout.writeZordered(grid, s"$base/z", "a", "b", bits = 6, numFiles = 16)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b", "id"))
    val (sm, n, metaF, scanF) = Layout.sumMatching(spark, s"$base/z",
      Seq(("a", 0.0, 49.0), ("b", 0.0, 49.0)), "id")
    val exp = grid.where(col("a").between(0.0, 49.0) && col("b").between(0.0, 49.0))
      .agg(sum("id"), count(lit(1))).head()
    assert(sm.get.longValueExact() == exp.getLong(0) && n == exp.getLong(1))
    assert(metaF > 0, "interior files must fold from metadata alone")
    assert(metaF + scanF < 16, "the rectangle cannot touch every file")
    // empty rectangle is SQL NULL sum, zero count
    val (s0, n0, _, _) = Layout.sumMatching(spark, s"$base/z",
      Seq(("a", 1000.0, 2000.0)), "id")
    assert(s0.isEmpty && n0 == 0L)
    // float columns refuse — their partial sums reassociate
    intercept[IllegalArgumentException](Layout.sumMatching(spark, s"$base/z",
      Seq(("a", 0.0, 30.0)), "b"))
    // pending MoR sidecars fence the pushdown
    Layout.deleteLogical(spark, s"$base/z", Seq(1L).toDF("id"), "id")
    intercept[IllegalArgumentException](Layout.sumMatching(spark, s"$base/z",
      Seq(("a", 0.0, 30.0)), "id"))
  }

  test("value index persists its hash space: mismatched consults and refreshes refuse loudly") {
    val base = java.nio.file.Files.createTempDirectory("graft-zbkt").toString
    Layout.writeZordered(grid, s"$base/z", "a", "b", bits = 6, numFiles = 8)
    Layout.writeValueIndex(spark, s"$base/z", "id", buckets = 1024)
    assert(Layout.pointRead(spark, s"$base/z", "id", lit(8L),
      buckets = 1024).count() == 1)
    // a consult in a different modulus would silently skip files — refuse
    intercept[IllegalArgumentException](
      Layout.pointRead(spark, s"$base/z", "id", lit(8L)).count())
    intercept[IllegalArgumentException](
      Layout.deleteByKeys(spark, s"$base/z", Seq(8L).toDF("id"), "id",
        buckets = 4096))
    intercept[IllegalArgumentException](
      Layout.refreshValueIndex(spark, s"$base/z", "id", buckets = 4096))
  }

  test("pruned/point reads: the empty candidate set serves the leaf-read schema, never the partition column") {
    val base = java.nio.file.Files.createTempDirectory("graft-zempty").toString
    Layout.buildZorderedEpoch(grid.where(col("id") % 2 === 0), s"$base/z",
      Seq("a", "b"), bits = 6, numFiles = 4)
    Layout.appendZorderedEpoch(grid.where(col("id") % 2 === 1), s"$base/z", 1,
      numFiles = 4)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    Layout.writeValueIndex(spark, s"$base/z", "id")
    val hit = Layout.prunedRead(spark, s"$base/z", Seq(("a", 0.0, 30.0)))
    val miss = Layout.prunedRead(spark, s"$base/z", Seq(("a", 1000.0, 2000.0)))
    assert(miss.count() == 0)
    assert(miss.schema == hit.schema,
      s"empty and non-empty candidate sets must agree: ${miss.schema} vs ${hit.schema}")
    assert(!miss.columns.contains("batch"),
      "the r14 ADVICE bug: the old empty branch surfaced the partition column")
    val pmiss = Layout.pointRead(spark, s"$base/z", "id", lit(123456L))
    assert(pmiss.count() == 0 && pmiss.schema == hit.schema)
  }

  test("writer lease: loud refusal while held, released on every exit path, breakable after a crash") {
    val base = java.nio.file.Files.createTempDirectory("graft-zlease").toString
    val path = s"$base/z"
    val got = Layout.withWriterLease(spark, path, "t1") {
      intercept[IllegalArgumentException](
        Layout.withWriterLease(spark, path, "t2") { 0 })
      42
    }
    assert(got == 42)
    // released on normal exit
    assert(Layout.withWriterLease(spark, path) { 7 } == 7)
    // released on the exception path too
    intercept[RuntimeException](
      Layout.withWriterLease(spark, path) { throw new RuntimeException("x") })
    assert(Layout.withWriterLease(spark, path) { 8 } == 8)
    // acquisition is atomic WITH content (r17 ADVICE: the sleep-based
    // empty-marker retake broke mutual exclusion) — the new protocol can
    // never produce an empty marker, and a LEGACY empty marker from a
    // pre-r18 crash refuses like any foreign holder until the operator
    // breaks it
    val lp = new org.apache.hadoop.fs.Path(Layout.leasePath(path))
    val hfs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.createNewFile(lp)
    intercept[IllegalArgumentException](Layout.withWriterLease(spark, path) { 9 })
    assert(Layout.breakWriterLease(spark, path))
    assert(Layout.withWriterLease(spark, path) { 9 } == 9)
    // ...and the marker is gone again after that run's release
    assert(!hfs.exists(lp))
    // no stray acquisition tmps linger on either path (atomic-rename
    // acquisition cleans up after a lost race)
    assert(!hfs.listStatus(new org.apache.hadoop.fs.Path(base))
      .exists(_.getPath.getName.startsWith(".lease_")))
    // self-fenced re-entry: a marker recording the SAME holder identity
    // is a crashed prior self — retaken automatically (the streams'
    // restart recipe), while a different holder still refuses above
    val out = hfs.create(lp, true)
    out.write("stream:ck1".getBytes("UTF-8")); out.close()
    assert(Layout.withWriterLease(spark, path, "stream:ck1") { 10 } == 10)
    intercept[IllegalArgumentException] {
      val o2 = hfs.create(lp, true)
      o2.write("stream:ck1".getBytes("UTF-8")); o2.close()
      Layout.withWriterLease(spark, path, "stream:OTHER") { 0 }
    }
    assert(Layout.breakWriterLease(spark, path))
  }

  test("string Z-order keys: build → append → prune → delete round-trip with the family's guarantees") {
    val base = java.nio.file.Files.createTempDirectory("graft-zstr").toString
    // the common real-world shape: a string business key + a numeric
    // metric as the two cluster columns
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id"),
      concat(lit("cust#"), lpad((col("id") % 500).cast("string"), 6, "0"))
        .as("name"),
      (col("id") % 97).cast("double").as("bal"))
    val df = mk(0, 8000)
    Layout.writeZorderedCols(df, s"$base/z", Seq("name", "bal"),
      bits = 4, numFiles = 8)
    // the meta sidecar round-trips TYPED boundaries: string cuts for the
    // string column, numeric quantiles for the numeric one
    val (zc, _, nb0, sb0) = Layout.readLayoutMetaTyped(spark, s"$base/z")
    assert(zc == Seq("name", "bal"))
    assert(sb0(0).size == 15 && nb0(0).isEmpty,
      s"string column carries cut strings: ${sb0(0).take(3)}")
    assert(nb0(1).size == 15 && sb0(1).isEmpty,
      "numeric column carries numeric quantiles")
    Layout.writeManifest(spark, s"$base/z", Seq("name", "bal"))
    Layout.writeValueIndex(spark, s"$base/z", "id")
    // lexicographic range prune: exactly the full-scan filter, and it
    // actually skips files (the clustering bought something)
    val r = Seq(("name", "cust#000100", "cust#000199"))
    def truth(d: org.apache.spark.sql.DataFrame) =
      d.where(col("name") >= "cust#000100" && col("name") <= "cust#000199")
        .select("id", "name", "bal")
    val served = Layout.prunedReadStr(spark, s"$base/z", r)
      .select("id", "name", "bal")
    assert(served.exceptAll(truth(df)).isEmpty &&
      truth(df).exceptAll(served).isEmpty)
    assert(Layout.matchingFilesStr(spark, s"$base/z", r).length < 8,
      "a narrow name range must skip files on the string-clustered layout")
    // append re-keys against the FROZEN string cuts; the commit unit
    // refreshes; pruning still exact over the union
    val extra = mk(8000, 10000)
    Layout.appendZordered(extra, s"$base/z", numFiles = 2)
    Layout.refreshManifest(spark, s"$base/z", Seq("name", "bal"))
    Layout.refreshValueIndex(spark, s"$base/z", "id")
    val all = df.unionByName(extra)
    val served2 = Layout.prunedReadStr(spark, s"$base/z", r)
      .select("id", "name", "bal")
    assert(served2.exceptAll(truth(all)).isEmpty &&
      truth(all).exceptAll(served2).isEmpty)
    // the drift monitor covers string Z columns, and the manifest
    // histogram fold still equals the audit scan exactly
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Int, String, Int, Double)].collect().toSet
    assert(rows(Layout.layoutDrift(spark, s"$base/z")) ==
      rows(Layout.auditDrift(spark, s"$base/z")))
    // delete: logical stage + CoW fold, then the prune serves survivors
    assert(Layout.deleteLogical(spark, s"$base/z",
      spark.range(100, 8100, 500).toDF("id"), "id") == 16L)
    assert(Layout.applyTombstones(spark, s"$base/z", "id",
      Seq("name", "bal")) == 16L)
    val survivors = all.where(!(col("id") >= 100 && col("id") < 8100 &&
      (col("id") - 100) % 500 === 0))
    val served3 = Layout.prunedReadStr(spark, s"$base/z", r)
      .select("id", "name", "bal")
    assert(served3.exceptAll(truth(survivors)).isEmpty &&
      truth(survivors).exceptAll(served3).isEmpty)
    // the hash value index works on the string column too: point reads
    // route a string key through the same membership consult
    Layout.writeValueIndex(spark, s"$base/z", "name")
    val hit = Layout.pointRead(spark, s"$base/z", "name", lit("cust#000123"))
    assert(hit.count() === survivors.where(col("name") === "cust#000123").count())
    // recluster re-derives the string cuts from the live table — same
    // frozen-bounds replay contract as numeric columns
    Layout.reclusterLayout(spark, s"$base/z", numFiles = 8)
    val (_, _, _, sb1) = Layout.readLayoutMetaTyped(spark, s"$base/z")
    assert(sb1(0).size == 15, "recluster must persist fresh string cuts")
    Layout.writeManifest(spark, s"$base/z", Seq("name", "bal"))
    val served4 = Layout.prunedReadStr(spark, s"$base/z", r)
      .select("id", "name", "bal")
    assert(served4.exceptAll(truth(survivors)).isEmpty &&
      truth(survivors).exceptAll(served4).isEmpty)
  }

  test("maintenance planners: per-invocation lease holders — an overlapping run refuses loudly") {
    // the r15 hazard: with a CONSTANT maintenance holder, an overrunning
    // cron overlapping its next firing passed the self-fence and
    // interleaved root swaps silently. Holders are now unique per
    // invocation, so a standing maintenance lease — same planner or not —
    // refuses; crashed-run recovery is the explicit breakWriterLease.
    val base = java.nio.file.Files.createTempDirectory("graft-zmlease").toString
    val path = s"$base/z"
    val lp = new org.apache.hadoop.fs.Path(Layout.leasePath(path))
    val hfs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.mkdirs(lp.getParent)
    val out = hfs.create(lp, true)
    // a concurrent maintainLayout invocation's marker (its own unique id)
    out.write("maintainLayout:999@elsewhere:overlap-uuid".getBytes("UTF-8"))
    out.close()
    for (attempt <- 1 to 2) { // every firing refuses — no self-fence pass
      val err = intercept[IllegalArgumentException](
        graft.streaming.OnlineRefresh.maintainLayout(
          spark, path, Seq("a", "b"), "id"))
      assert(err.getMessage.contains("maintainLayout:999@elsewhere"),
        s"attempt $attempt must name the holding run: ${err.getMessage}")
    }
    val err2 = intercept[IllegalArgumentException](
      graft.streaming.OnlineRefresh.compactZorderLayout(
        spark, path, Seq("a", "b"), "id"))
    assert(err2.getMessage.contains("single-writer"))
    // the documented recovery path for a crashed run
    assert(Layout.breakWriterLease(spark, path))
  }

  test("temporal Z keys auto-project to epoch numbers: build → append → manifest → drift round-trip") {
    val base = java.nio.file.Files.createTempDirectory("graft-zts").toString
    // an hourly time-series shape: ts spans ~97 distinct hours
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id"),
      timestamp_seconds(lit(1700000000L) + (col("id") % 97) * 3600).as("ts"),
      (col("id") % 100).cast("double").as("v"))
    Layout.buildZorderedEpoch(mk(0, 6000), s"$base/z", Seq("ts", "v"),
      bits = 4, numFiles = 4)
    // the sidecar records the projection; bounds are epoch-second numerics
    assert(Layout.readLayoutMetaProjs(spark, s"$base/z") ==
      Seq("epoch_ts", "none"))
    val (zc, zbits, nb0, sb0) = Layout.readLayoutMetaTyped(spark, s"$base/z")
    assert(zc == Seq("ts", "v") && zbits == 4)
    assert(nb0(0).nonEmpty && nb0(0).forall(_ > 1.6e9),
      s"ts bounds must be epoch seconds: ${nb0(0).take(3)}")
    assert(sb0.forall(_.isEmpty))
    // frozen-bounds append re-keys through the SAME projection
    Layout.appendZorderedEpoch(mk(6000, 8000), s"$base/z", 1, numFiles = 2)
    // the key actually clusters the ts axis: buckets spread
    val keyed = Layout.zorderKeyWithBoundsTyped(mk(0, 8000), zc, zbits, nb0, sb0)
    val spread = keyed.select(countDistinct(col("__zb_0"))).head().getLong(0)
    assert(spread >= 8, s"ts buckets must spread, got $spread distinct")
    // manifest zh histograms bucket through the projection too — the
    // metadata drift fold stays ≡ the audit scan on a temporal key
    Layout.writeManifest(spark, s"$base/z", Seq("ts", "v"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, String, Int, Double)] =
      df.as[(Int, String, Int, Double)].collect().toSet
    assert(rows(Layout.layoutDrift(spark, s"$base/z")) ==
      rows(Layout.auditDrift(spark, s"$base/z")),
      "temporal-key drift: manifest fold must equal the audit scan")
    // a pruned read on the numeric companion column serves exactly
    val served = Layout.prunedRead(spark, s"$base/z", Seq(("v", 10.0, 30.0)))
      .select("id", "v")
    val truth = mk(0, 8000).where(col("v").between(10.0, 30.0)).select("id", "v")
    assert(served.exceptAll(truth).isEmpty && truth.exceptAll(served).isEmpty)
    // DATE keys project to epoch days the same way
    val dDf = spark.range(2000).select(col("id"),
      date_add(lit(java.sql.Date.valueOf("2026-01-01")),
        (col("id") % 120).cast("int")).as("d"),
      (col("id") % 50).cast("double").as("v"))
    val dKeyed = Layout.zorderKeyCols(dDf, Seq("d", "v"), bits = 4)
    val dSpread = dKeyed.select(countDistinct(col("__zb_0"))).head().getLong(0)
    assert(dSpread >= 8, s"date buckets must spread, got $dSpread")
  }

  test("layoutDrift: a duplicated manifest file row falls back to the audit scan, never double-counts") {
    val base = java.nio.file.Files.createTempDirectory("graft-zdupm").toString
    Layout.writeZordered(grid, s"$base/z", "a", "b", bits = 4, numFiles = 4)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, String, Int, Double)] =
      df.as[(Int, String, Int, Double)].collect().toSet
    val truth = rows(Layout.auditDrift(spark, s"$base/z"))
    assert(rows(Layout.layoutDrift(spark, s"$base/z")) == truth)
    // duplicate one manifest row via an external rewrite (the faulty-
    // tool scenario the r16 ADVICE names): the file SET stays equal to
    // the listing, so only the row-count check can catch it
    val mPath = Layout.manifestPath(s"$base/z")
    val m = spark.read.parquet(mPath)
    val dupRows = m.collect()
    val doubled = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(dupRows ++ dupRows.take(1): _*)), m.schema)
    val tmp = java.nio.file.Files.createTempDirectory("graft-zdupm-m").toString
    doubled.coalesce(1).write.mode("overwrite").parquet(tmp)
    val mp = new org.apache.hadoop.fs.Path(mPath)
    val hfs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(mp, true)
    assert(hfs.rename(new org.apache.hadoop.fs.Path(tmp), mp))
    // the consult must NOT serve a double-counted 'exact' answer — it
    // falls back to the scan and still returns the truth
    assert(rows(Layout.layoutDrift(spark, s"$base/z")) == truth,
      "duplicated manifest row must fall back to the audit scan")
  }

  test("quantile consult enforces freshness uniformly — a stale index refuses below the route crossover too") {
    val base = java.nio.file.Files.createTempDirectory("graft-zqfresh").toString
    Layout.writeZordered(grid, s"$base/z", "a", "b", bits = 4, numFiles = 4)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    Layout.writeQuantileIndex(spark, s"$base/z", "b", "id")
    val (n0, _, _, _) = Layout.quantileMatching(spark, s"$base/z",
      Seq(("a", 0.0, 50.0)), "b", "id")
    assert(n0 > 0)
    // append + refresh the MANIFEST but not the quantile index: the
    // table is 6 files (below ConsultRouteFiles), so pre-r17 the routed
    // path silently tolerated the stale index — the contract was
    // file-count-dependent (r16 ADVICE). Now it refuses on both paths.
    val extra = spark.range(10000, 12000).select(col("id"),
      (col("id") % 100).cast("double").as("a"),
      (col("id") % 7).cast("double").as("b"))
    Layout.appendZordered(extra, s"$base/z", numFiles = 2)
    Layout.refreshManifest(spark, s"$base/z", Seq("a", "b"))
    val err = intercept[IllegalArgumentException](
      Layout.quantileMatching(spark, s"$base/z",
        Seq(("a", 0.0, 50.0)), "b", "id"))
    assert(err.getMessage.contains("quantile index"), err.getMessage)
    // refresh → serves again, on the routed path
    Layout.refreshQuantileIndex(spark, s"$base/z", "b", "id")
    val (n1, _, _, _) = Layout.quantileMatching(spark, s"$base/z",
      Seq(("a", 0.0, 50.0)), "b", "id")
    assert(n1 > 0)
  }

  test("refreshQuantileIndex: an empty index shell (aborted initial build) proceeds as a fresh build") {
    val base = java.nio.file.Files.createTempDirectory("graft-zqshell").toString
    Layout.writeZordered(grid, s"$base/z", "a", "b", bits = 4, numFiles = 4)
    Layout.writeManifest(spark, s"$base/z", Seq("a", "b"))
    val qPath = Layout.quantileIndexPath(s"$base/z", "b", "id")
    val qp = new org.apache.hadoop.fs.Path(qPath)
    qp.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(qp)
    // pre-r17 this died inside spark.read with 'unable to infer schema'
    val indexed = Layout.refreshQuantileIndex(spark, s"$base/z", "b", "id")
    assert(indexed == 4L, s"fresh build must index every file, got $indexed")
    val (n, qs, _, _) = Layout.quantileMatching(spark, s"$base/z",
      Seq(("a", 0.0, 50.0)), "b", "id")
    assert(n > 0 && qs.head.nonEmpty)
  }

  test("optimistic commits are the DEFAULT write path: plain mutators claim versions, rebase past appends, refuse past rewrites") {
    import graft.fs.OptimisticCommit
    val base = java.nio.file.Files.createTempDirectory("graft-zoptc").toString
    val path = s"$base/z"
    assert(OptimisticCommit.tableVersion(spark, path) == -1L)
    // PLAIN-API mutators commit without the caller asking
    Layout.buildZorderedEpoch(grid.where(col("id") < 5000), path,
      Seq("a", "b"), bits = 4, numFiles = 2)
    val c0 = OptimisticCommit.commitInfo(spark, path, 0L).get
    assert(OptimisticCommit.tableVersion(spark, path) == 0L &&
      c0.kind == "append" && c0.complete && c0.holder == "buildZorderedEpoch",
      s"plain build must auto-commit v0: $c0")
    // INTERLEAVED appends: the outer writer bases on v0; the inner
    // plain-API append auto-commits v1 first; the outer's claim on v1
    // loses, sees an append-class winner, rebases, and LANDS at v2
    val (vOuter, _) = OptimisticCommit.commitAppend(spark, path, "backfill") {
      Layout.appendZorderedEpoch(
        grid.where(col("id") >= 5000 && col("id") < 7000), path, 1, 1)
      Layout.appendZorderedEpoch(grid.where(col("id") >= 7000), path, 2, 1)
    }
    assert(vOuter == 3L,
      s"append must rebase past the two plain append-class winners: $vOuter")
    assert(spark.read.parquet(path).count() == 10000,
      "all interleaved appends must land")
    // CONFLICTING REWRITE: a writer stages against v3, another commit
    // lands v4 first — the rewrite refuses NAMING the winner, before
    // any table-sized work runs
    val staged = OptimisticCommit.tableVersion(spark, path)
    val (v4, _) = OptimisticCommit.commitAppend(spark, path, "ingest")(())
    val err = intercept[IllegalArgumentException](
      OptimisticCommit.commitRewrite(spark, path, "recluster-cron",
        expectedVersion = Some(staged)) {
        Layout.reclusterLayout(spark, path, numFiles = 2)
      })
    assert(err.getMessage.contains("ingest") && err.getMessage.contains(s"v=$v4"),
      s"rewrite refusal must name the winning commit: ${err.getMessage}")
    // the refusal preceded the work: the epoch partitions are untouched
    val parts = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
    assert(parts == Set("batch=0", "batch=1", "batch=2"), s"refusal must precede the rewrite: $parts")
    // a clean PLAIN-API rewrite at the true tip claims and runs
    Layout.reclusterLayout(spark, path, numFiles = 2)
    val v5 = OptimisticCommit.tableVersion(spark, path)
    assert(v5 == v4 + 1 &&
      OptimisticCommit.commitInfo(spark, path, v5).exists(c =>
        c.kind == "rewrite" && c.complete && c.holder == "reclusterLayout") &&
      spark.read.parquet(path).count() == 10000)
    // an append racing a REWRITE-class winner (here: a plain-API
    // compaction that auto-commits mid-race) refuses loudly — its files
    // may not have survived the swap; the operator must verify
    val err2 = intercept[IllegalArgumentException](
      OptimisticCommit.commitAppend(spark, path, "late-append") {
        graft.streaming.OnlineRefresh.compactZorderLayout(
          spark, path, Seq("a", "b"), "id", numFiles = 2)
      })
    assert(err2.getMessage.contains("compactZorderLayout") &&
      err2.getMessage.contains("REWRITE"), err2.getMessage)
  }

  test("mid-flight commits gate plain-API writers: a crashed rewrite claim refuses both classes until abortCommit") {
    import graft.fs.OptimisticCommit
    val base = java.nio.file.Files.createTempDirectory("graft-zmidf").toString
    val path = s"$base/z"
    Layout.buildZorderedEpoch(grid.where(col("id") < 8000), path,
      Seq("a", "b"), bits = 4, numFiles = 2) // v0
    // simulate a writer that crashed between its rewrite CLAIM and its
    // state capture: the claim file exists, the state dir does not
    val cdir = new org.apache.hadoop.fs.Path(OptimisticCommit.commitsPath(path))
    val hfs = cdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(new org.apache.hadoop.fs.Path(cdir, "v=1"), true)
    out.write("kind=rewrite\nholder=ghost-compactor".getBytes("UTF-8"))
    out.close()
    // a plain-API APPEND refuses: the in-flight swap may drop its files
    val e1 = intercept[IllegalArgumentException](
      Layout.appendZorderedEpoch(grid.where(col("id") >= 8000), path, 1, 1))
    assert(e1.getMessage.contains("mid-flight") &&
      e1.getMessage.contains("ghost-compactor"), e1.getMessage)
    // a plain-API REWRITE refuses too (two concurrent swaps, the r17
    // ADVICE hole)
    val e2 = intercept[IllegalArgumentException](
      Layout.reclusterLayout(spark, path, numFiles = 2))
    assert(e2.getMessage.contains("mid-flight"), e2.getMessage)
    // operator recovery: confirm the holder is gone, abort, heal, go
    assert(OptimisticCommit.abortCommit(spark, path, 1L))
    assert(!OptimisticCommit.abortCommit(spark, path, 1L), "abort is idempotent-false")
    Layout.recoverLayout(spark, path)
    Layout.appendZorderedEpoch(grid.where(col("id") >= 8000), path, 1, 1) // v2
    assert(OptimisticCommit.tableVersion(spark, path) == 2L &&
      spark.read.parquet(path).count() == 10000)
    // a FAILED body (exception, not crash) self-aborts: the next plain
    // writer is not blocked on a ghost
    val dupBatch = grid.where(col("id") < 4)
    intercept[IllegalArgumentException](
      Layout.upsertByKey(spark, path,
        dupBatch.unionAll(dupBatch), "id")) // dup keys refused
    val v3 = OptimisticCommit.commitInfo(spark, path, 3L).get
    assert(v3.aborted && !v3.complete, s"failed body must self-abort: $v3")
    Layout.appendZorderedEpoch(grid.limit(0), path, 2, 1) // proceeds → v4
    assert(OptimisticCommit.tableVersion(spark, path) == 4L)
  }

  test("two plain-API writers on real threads: a compaction and an append never interleave silently") {
    val base = java.nio.file.Files.createTempDirectory("graft-zrace").toString
    val path = s"$base/z"
    Layout.writeZordered(grid, path, "a", "b", bits = 6, numFiles = 16) // v0
    @volatile var compactErr: Option[Throwable] = None
    val t = new Thread(() => {
      try Layout.compactLayout(spark, path, numFiles = 4)
      catch { case e: Throwable => compactErr = Some(e) }
    })
    t.start()
    Thread.sleep(120) // land mid-body with high probability
    val appended = try {
      Layout.appendZordered(grid.limit(500), path, numFiles = 1); true
    } catch {
      case e: IllegalArgumentException =>
        // the protocol's conservative refusal: the append raced the
        // in-flight (or just-won) rewrite and says so loudly
        assert(e.getMessage.contains("mid-flight") ||
          e.getMessage.contains("REWRITE") ||
          e.getMessage.contains("lost the CAS"), e.getMessage)
        false
    }
    t.join()
    assert(compactErr.isEmpty, s"compaction must not fail: $compactErr")
    // EITHER outcome is serializable — what must never happen is a
    // silent interleave that loses rows
    val expected = if (appended) 10500L else 10000L
    assert(spark.read.parquet(path).count() == expected,
      s"appended=$appended — a silent interleave lost rows")
  }

  test("commit time travel: every plain-API commit is a readable version; boundaries, tie-breaks, MoR pins, expiry") {
    import graft.fs.OptimisticCommit
    val base = java.nio.file.Files.createTempDirectory("graft-zctt").toString
    val path = s"$base/z"
    // v0: the initial build (rewrite class)
    Layout.writeZordered(grid.where(col("id") % 2 === 0), path, "a", "b",
      bits = 4, numFiles = 4)
    val ts0 = OptimisticCommit.commitStateMs(spark, path, 0L).get
    while (System.currentTimeMillis() <= ts0) Thread.sleep(1)
    // v1: a plain append
    Layout.appendZordered(grid.where(col("id") % 2 === 1), path, numFiles = 2)
    val ts1 = OptimisticCommit.commitStateMs(spark, path, 1L).get
    assert(ts1 > ts0)
    // boundary pins: exact ts inclusive, between → earlier, after → tip
    assert(OptimisticCommit.resolveCommitAsOf(spark, path, ts0) == 0L)
    assert(OptimisticCommit.resolveCommitAsOf(spark, path, ts1 - 1) == 0L)
    assert(OptimisticCommit.resolveCommitAsOf(spark, path, ts1) == 1L)
    assert(OptimisticCommit.resolveCommitAsOf(spark, path, ts1 + 1000000L) == 1L)
    val err = intercept[IllegalArgumentException](
      OptimisticCommit.resolveCommitAsOf(spark, path, ts0 - 1))
    // the refusal names the available range
    assert(err.getMessage.contains("predates") &&
      err.getMessage.contains(ts0.toString), err.getMessage)
    // the reads serve exactly the committed-at views
    val asOf0 = OptimisticCommit.readCommitAsOf(spark, path, ts0)
    assert(asOf0.count() == 5000 &&
      asOf0.agg(max(col("id") % 2)).head().getLong(0) == 0L,
      "as-of v0 must serve only the even-id build")
    assert(OptimisticCommit.readCommitAsOf(spark, path, ts1).count() == 10000)
    // clock-alias + clock-step tie-breaks, pinned on the pure rule:
    // among ts <= asOf the HIGHEST VERSION wins
    assert(OptimisticCommit.resolveFrom(Seq((0L, 100L), (1L, 100L)), 100L)
      .contains(1L), "two commits aliasing one millisecond: version order wins")
    assert(OptimisticCommit.resolveFrom(Seq((0L, 100L), (1L, 90L)), 95L)
      .contains(1L), "a clock step must not reorder commits: version order wins")
    assert(OptimisticCommit.resolveFrom(Seq((0L, 100L)), 50L).isEmpty)
    // v2: a MoR staging — the commit pins the tombstone sidecar files,
    // so the keyed read serves the logically-deleted view
    Layout.deleteLogical(spark, path,
      grid.where(col("id") < 1000).select("id"), "id")
    assert(OptimisticCommit.commitInfo(spark, path, 2L).exists(c =>
      c.kind == "append" && c.complete))
    assert(OptimisticCommit.readCommit(spark, path, 2L, Some("id")).count() == 9000)
    // ...while v1's keyed read still serves the pre-delete view
    assert(OptimisticCommit.readCommit(spark, path, 1L, Some("id")).count() == 10000)
    // EXPIRY: a compaction rewrites every data file — older pins refuse
    // loudly, never serve a partial history
    Layout.compactLayout(spark, path, numFiles = 4) // v3
    val exp = intercept[IllegalArgumentException](
      OptimisticCommit.readCommit(spark, path, 1L))
    assert(exp.getMessage.contains("expired"), exp.getMessage)
    // the new tip is immediately readable
    assert(OptimisticCommit.readCommit(spark, path, 3L, Some("id")).count() == 9000)
  }

  test("commit-log retention: a 1000-commit table lists O(window) after the sweep; as-of keeps resolving inside it") {
    import graft.fs.OptimisticCommit
    val base = java.nio.file.Files.createTempDirectory("graft-zcret").toString
    val path = s"$base/z"
    Layout.writeZordered(grid, path, "a", "b", bits = 4, numFiles = 4) // v0
    (1 to 1000).foreach(i =>
      OptimisticCommit.commitAppend(spark, path, s"noop-$i")(()))
    assert(OptimisticCommit.tableVersion(spark, path) == 1000L)
    val dropped = OptimisticCommit.expireCommitsKeepLast(spark, path, 16)
    assert(dropped.size == 985 && OptimisticCommit.tableVersion(spark, path) == 1000L)
    val entries = {
      val dir = new org.apache.hadoop.fs.Path(OptimisticCommit.commitsPath(path))
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(dir).length
    }
    assert(entries <= 16 * 2, s"the log must list O(window) after the sweep: $entries")
    // as-of inside the kept window still resolves and reads
    val tipTs = OptimisticCommit.commitStateMs(spark, path, 1000L).get
    assert(OptimisticCommit.resolveCommitAsOf(spark, path, tipTs) == 1000L)
    assert(OptimisticCommit.readCommitAsOf(spark, path, tipTs).count() == 10000)
    // expired versions are no longer readable — loudly
    intercept[IllegalArgumentException](
      OptimisticCommit.readCommit(spark, path, 5L))
    // the tip is the CAS anchor: keep=0 refuses
    intercept[IllegalArgumentException](
      OptimisticCommit.expireCommitsKeepLast(spark, path, 0))
  }
}
