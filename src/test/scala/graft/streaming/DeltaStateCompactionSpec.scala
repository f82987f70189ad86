package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streaming.DeltaState

/** The LSM compaction schedule of [[Streaming.DeltaState]], driven through
  * its pure pair choice with row counts only: the same loop `fold` runs,
  * minus the freeze jobs. A merged run holds the sum of its two runs' rows
  * (append-only state, the worst case), and that sum is the merge's rewrite
  * volume.
  */
class DeltaStateCompactionSpec extends AnyFunSuite {
  private val maxDeltas = 8

  /** ingest `batches` (row counts, oldest first) on top of `start` (newest
    * first); returns the live runs after each batch and the total rows
    * rewritten by merges
    */
  private def ingest(batches: Seq[Long],
                     start: List[Long] = Nil): (Seq[List[Long]], Long) = {
    var runs = start
    var rewritten = 0L
    val live = batches.map { b =>
      runs = b :: runs
      while (runs.sizeIs > maxDeltas) {
        val i = DeltaState.mergeAt(runs)
        assert(i >= 0 && i < runs.size - 1, s"no adjacent pair at $i in $runs")
        val (pre, rest) = runs.splitAt(i)
        val merged = Math.addExact(rest.head, rest(1))
        rewritten = Math.addExact(rewritten, merged)
        runs = pre ::: merged :: rest.drop(2)
      }
      runs
    }
    (live, rewritten)
  }

  test("equal batches: total rewrite stays within n·log2 n, runs within maxDeltas") {
    val rows = 1000L
    Seq(256, 1024).foreach { n =>
      val (live, rewritten) = ingest(Seq.fill(n)(rows))
      assert(live.forall(_.sizeIs <= maxDeltas),
        s"run count past maxDeltas: ${live.map(_.size).max}")
      // the merge-on-arrival binary counter rewrites each row log2 n
      // times: n·log2 n rows in all at n = 256 = 2^maxDeltas
      val bound = n * (31 - Integer.numberOfLeadingZeros(n)) * rows
      assert(rewritten <= bound,
        s"$n equal batches rewrote ${rewritten / rows} batches' rows, bound ${bound / rows}")
      // no batch is lost or double-counted by the merges
      assert(live.last.sum == n * rows)
    }
  }

  test("a bounded replay never merges; one batch past maxDeltas merges once") {
    val (live, rewritten) = ingest(Seq.fill(maxDeltas)(500L))
    assert(rewritten == 0 && live.last.size == maxDeltas)
    val (past, once) = ingest(Seq(500L), live.last)
    assert(once == 1000L && past.last.size == maxDeltas)
  }

  test("a restored run ranks largest and merges last, with no size overflow") {
    // a restored checkpoint scan, then a long ingest of skewed batches
    val batches = (1 to 1024).map(b => 1L + (b * 7919L) % 5000)
    val (live, _) = ingest(batches, DeltaState.Unsized :: Nil)
    assert(live.forall(_.last == DeltaState.Unsized),
      "the restored run must stay unmerged while smaller runs can fold")
    // the pair choice only compares sizes: runs near Long.MaxValue (whose
    // pairwise sums overflow) still rank as the largest
    assert(DeltaState.mergeAt(Seq(1L, 2L, Long.MaxValue)) == 0)
    assert(DeltaState.mergeAt(Seq(Long.MaxValue, 3L, 1L)) == 1)
    assert(DeltaState.mergeAt(Seq(5L, Long.MaxValue, DeltaState.Unsized, 6L)) == 2)
  }
}
