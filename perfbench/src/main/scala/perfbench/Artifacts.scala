package perfbench

/** `artifacts`: the program's two maintained artifacts side by side — the
  * BM25 index of a growing corpus ([[TextIndex]]) and the Z-ordered table
  * with its commit log ([[TableLoad]]).
  *
  * A round is [[TextIndex.EpochsPerMaintenance]] index epochs, a served
  * batch, `maintainBm25Index` and the batch served again; then one table
  * cycle (append, upsert, delete, reads) and `maintainLayout`. An untimed
  * warm-up lands two small index epochs and runs `maintainBm25Index`: the
  * first calls of the index's operations run 1.3-2x their settled time.
  * The table's calls run within 10-30% of it on their first call after the
  * set-up's build, and an untimed table cycle would cost ~10 s a run. Then
  * at least [[MinRounds]] rounds are timed, more while `--seconds` have not
  * passed. Each end-to-end metric is the median of its samples over the
  * timed rounds. */
object Artifacts {
  val MinRounds = 2

  def run(r: Run): Unit = {
    val text = TextIndex.setup(r)
    val (tableCycle, tableMaintain) = TableLoad.setup(r)
    r.setupDone()
    r.warmOnce(text(true))

    val epochs, serves, bm25, writes, points, ranges = Seq.newBuilder[Double]
    r.startClock()
    var rounds = 0
    while (rounds < MinRounds || r.timeLeft) {
      val t = text(false)
      val c = tableCycle()
      tableMaintain()
      epochs ++= t.epochMs
      serves ++= t.serveMs
      bm25 += t.maintainMs
      writes += c.rows / (c.writeMs / 1000.0)
      points ++= c.pointMs
      ranges ++= c.rangeMs
      rounds += 1
    }
    r.endToEnd("write_per_s") = Run.median(writes.result())
    r.endToEnd("ingest_ms") = Run.median(epochs.result())
    r.endToEnd("refresh_ms") = Run.median(bm25.result())
    r.endToEnd("read_ms") = Run.median(points.result())
    r.endToEnd("query_ms") = Run.median(serves.result())
    r.endToEnd("scan_ms") = Run.median(ranges.result())
  }
}
