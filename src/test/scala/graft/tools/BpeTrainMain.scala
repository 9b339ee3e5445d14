package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.functions.Bpe

/** One-shot BPE merge-table trainer (dev tool, never ships).
  *
  * Standard BPE training (Sennrich et al., ACL 2016): count pre-tokenizer
  * pieces, then repeatedly merge the most frequent adjacent symbol pair.
  * Deterministic — ties break on the lexicographically smallest pair — so
  * re-running over the same fixture reproduces the checked-in resource
  * byte-for-byte.
  *
  * Zero-egress environment ⇒ the table is trained on the sf0.001 documents
  * fixture (the realistic posture anyway: production pipelines train
  * tokenizers on a corpus sample). Regenerate with:
  *
  *   sbt 'Test/runMain graft.tools.BpeTrainMain'
  *
  * then copy the printed path over src/main/resources/graft/bpe/merges.txt.
  */
object BpeTrainMain {

  /** Train `nMerges` merges over (piece, frequency) pairs. */
  def train(pieceFreq: Map[String, Long], nMerges: Int): Seq[(String, String)] = {
    var vocab: Map[Vector[String], Long] = pieceFreq
      .groupMapReduce { case (p, _) => Bpe.toSymbols(p).toVector } {
        case (_, f) => f
      }(_ + _)
    val merges = Seq.newBuilder[(String, String)]
    var done = false
    var it = 0
    while (it < nMerges && !done) {
      val pairFreq = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, f) <- vocab; i <- 0 until w.length - 1)
        pairFreq.updateWith((w(i), w(i + 1)))(c => Some(c.getOrElse(0L) + f))
      if (pairFreq.isEmpty || pairFreq.valuesIterator.max < 2) done = true
      else {
        val best = pairFreq.toSeq
          .minBy { case ((a, b), f) => (-f, a, b) }._1
        merges += best
        vocab = vocab.groupMapReduce { case (w, _) => mergeWord(w, best) } {
          case (_, f) => f
        }(_ + _)
        it += 1
      }
    }
    merges.result()
  }

  private def mergeWord(w: Vector[String], p: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var j = 0
    while (j < w.length) {
      if (j < w.length - 1 && w(j) == p._1 && w(j + 1) == p._2) {
        out += (w(j) + w(j + 1)); j += 2
      } else { out += w(j); j += 1 }
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val n = if (args.length > 1) args(1).toInt else 200
    val spark = graft.Session.local(4)
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    spark.stop()
    val re = Bpe.PreTokenPattern.r
    val freq = texts.iterator
      .flatMap(t => re.findAllIn(t))
      .foldLeft(Map.empty[String, Long].withDefaultValue(0L)) {
        (m, p) => m.updated(p, m(p) + 1)
      }
    val merges = train(freq, n)
    val out = Paths.get("/tmp/graft_bpe_merges.txt")
    val body = ("#version: graft-bpe-1 (trained on sf0.001 documents, " +
      s"${merges.size} merges)") +:
      merges.map { case (a, b) => s"$a $b" }
    Files.write(out, body.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    println(s"wrote ${merges.size} merges to $out")
  }
}
