package graft.tools

/** Per-iteration telemetry for [[graft.operators.Corpus.learnBpeMerges]]
  * at real-world k (builder-side; the driver never runs this): prints
  * one line per merge iteration — dict rows after the merge and wall
  * seconds since the previous iteration — then the total. The SCALE.md
  * "iterations are metadata-scale" claim is graded on this output: the
  * per-iteration cost must ride the (shrinking) word dictionary, not
  * the corpus, all the way to k in the hundreds.
  *
  * Usage: `runMain graft.tools.LearnSweep <sfDir> <k> [mult] [mode]` —
  * `mult` amplifies the corpus with [[graft.ScaleSmoke.amplify]]'s
  * perturbed replication (×N rows, ~×N vocabulary); `mode` is `bpe`
  * (default) or `unigram`, where k is the target vocab size and each
  * probe line is one EM round ([[graft.operators.Corpus.learnUnigram]]
  * — rounds are dictionary-sized after the two corpus passes, the
  * claim this sweep grades).
  */
object LearnSweep {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: LearnSweep <sfDir> <k> [mult] [mode]")
    val (sfDir, k) = (args(0), args(1).toInt)
    val mult = if (args.length > 2) args(2).toInt else 1
    val mode = if (args.length > 3) args(3) else "bpe"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Harness.session(cpus)
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text")
    val docs = if (mult > 1)
      graft.ScaleSmoke.amplify(base, mult).localCheckpoint(true)
    else base
    val t0 = System.nanoTime()
    var last = t0
    if (mode == "unigram" || mode == "unigram-soft") {
      // enough rounds for the ¾ shrink schedule to reach k from any
      // seed this sweep uses; the loop stops moving once it lands.
      // `unigram-soft` swaps the E-step for the lattice forward-
      // backward marginals (Corpus.unigramSoftUsage) — same
      // dictionary-sized per-round claim, graded on the same output
      val rounds = 16
      val pieces = graft.operators.Corpus.learnUnigram(docs, "text",
        vocabSize = k, rounds = rounds, maxPieceLen = 4, minCount = 8,
        seedSize = 1 << 16, probe = Some { (r, size) =>
          val now = System.nanoTime()
          println(f"[learn] round $r%4d vocab=$size%8d " +
            f"${(now - last) / 1e9}%6.3f s")
          last = now
        }, softEm = mode == "unigram-soft")
      val total = (System.nanoTime() - t0) / 1e9
      println(f"[learn] TOTAL target=$k mult=$mult vocab=${pieces.size} " +
        f"wall=$total%.2f s")
    } else {
      val table = graft.operators.Corpus.learnBpeMerges(docs, "text",
        numMerges = k, probe = Some { (i, dictRows) =>
          val now = System.nanoTime()
          println(f"[learn] iter $i%4d dict=$dictRows%8d " +
            f"${(now - last) / 1e9}%6.3f s")
          last = now
        })
      val n = table.count()
      val total = (System.nanoTime() - t0) / 1e9
      println(f"[learn] TOTAL k=$k mult=$mult merges=$n wall=$total%.2f s")
    }
    spark.stop()
  }
}
