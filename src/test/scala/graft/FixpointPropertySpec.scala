package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** Randomized cross-checks for the two intricate round-8 driver-side
  * algorithms, each against an INDEPENDENT naive reference computed in
  * the test:
  *
  *  - `componentsByKey` (distributed star rounds + size-gated local
  *    union-find) vs a plain reference union-find over the expanded
  *    per-key cliques — random bipartite incidence graphs exercise
  *    chains, hubs, overlaps, and singletons the fixed-topology specs
  *    don't reach;
  *  - `bpeMerges` (single-collect incremental trainer with a
  *    lazy-invalidation priority queue) vs a from-scratch recount
  *    trainer that re-derives every pair count each round — any
  *    incremental-maintenance bug (stale occ entries, missed PQ
  *    updates, wrong rewrite deltas) diverges the merge sequence.
  */
class FixpointPropertySpec extends SparkSpec {
  import spark.implicits._

  test("componentsByKey matches a reference union-find on random bipartite graphs") {
    val rnd = new scala.util.Random(0xC0FFEE)
    for (trial <- 1 to 5) {
      val nIds = 30 + rnd.nextInt(120)
      val nKeys = 5 + rnd.nextInt(40)
      val nRows = 40 + rnd.nextInt(250)
      val inc = (1 to nRows).map(_ =>
        (rnd.nextInt(nIds).toLong, s"k${rnd.nextInt(nKeys)}")).distinct
      // reference: plain union-find over each key's member clique
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      inc.groupBy(_._2).values.foreach { members =>
        val ids = members.map(_._1)
        ids.tail.foreach { m =>
          val (ra, rb) = (find(ids.head), find(m))
          if (ra != rb) parent(ra) = rb
        }
      }
      val want = inc.map(_._1).distinct.map { id =>
        val root = find(id)
        val mn = inc.map(_._1).distinct.filter(o => find(o) == root).min
        id -> mn
      }.toMap
      // both engine paths: the local union-find gate and the pure
      // distributed star rounds
      for (gate <- Seq(Long.MaxValue, 0L)) {
        val got = Dedup.componentsByKey(inc.toDF("id", "bucket"), "id", "bucket",
            localFinishEdges = gate)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want,
          s"trial $trial gate=$gate: ${got.toSeq.sorted.take(8)}... vs ${want.toSeq.sorted.take(8)}...")
      }
    }
  }

  test("RangeFrame decomposed == windowed on random integer values incl. negatives") {
    val rnd = new scala.util.Random(0xAB1E)
    for (trial <- 1 to 3) {
      val width = 1L + rnd.nextInt(50)
      val rows = (1 to 200 + rnd.nextInt(400)).map { i =>
        (s"p${rnd.nextInt(4)}", i.toLong, rnd.nextInt(600).toLong - 300L)
      }
      val df = rows.toDF("p", "id", "v")
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.orderBy(col("part"), col("id")).collect().map(_.toString).toSeq
      val a = canon(graft.operators.RangeFrame.windowed(df, "p", "id", "v", width))
      val b = canon(graft.operators.RangeFrame.decomposed(df, "p", "id", "v", width))
      assert(a == b, s"trial $trial width=$width diverged")
    }
  }

  test("bpeMerges matches a from-scratch recount trainer on random corpora") {
    val rnd = new scala.util.Random(0xFACADE)
    val alphabet = "abcde"
    for (trial <- 1 to 4) {
      val words = (1 to (20 + rnd.nextInt(60))).map { _ =>
        (1 to (1 + rnd.nextInt(6)))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      val nMerges = 3 + rnd.nextInt(6)
      // reference: recount every pair each round over the word-count
      // dictionary; argmax by (count desc, pair asc); greedy rewrite
      val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      words.foreach(w => counts(w) = counts.getOrElse(w, 0L) + 1)
      var dict: Seq[(Array[String], Long)] =
        counts.toSeq.map { case (w, c) => (w.split(""), c) }
      val wantMerges = Seq.newBuilder[(Int, String, String, Long)]
      var rank = 0
      var done = false
      while (rank < nMerges && !done) {
        val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
        dict.foreach { case (s, c) =>
          (0 until s.length - 1).foreach { i =>
            pc((s(i), s(i + 1))) = pc.getOrElse((s(i), s(i + 1)), 0L) + c
          }
        }
        if (pc.isEmpty) done = true
        else {
          // argmax count desc, then pair asc (ASCII corpus: String
          // order == UTF-8 order here)
          val ((l, r), c) = pc.toSeq
            .sortBy { case ((pl, pr), pcnt) => (-pcnt, pl, pr) }.head
          rank += 1
          wantMerges += ((rank, l, r, c))
          dict = dict.map { case (s, wc) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == l && s(i + 1) == r) {
                out += l + r; i += 2
              } else { out += s(i); i += 1 }
            }
            (out.toArray, wc)
          }
        }
      }
      val got = TextAnalysis.bpeMerges(
          words.grouped(5).map(_.mkString(" ")).toSeq.toDF("text"),
          "text", nMerges = nMerges)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      assert(got.toSeq == wantMerges.result(),
        s"trial $trial (${words.size} words, $nMerges merges):\n" +
          s"got  ${got.toSeq}\nwant ${wantMerges.result()}")
    }
  }
}
