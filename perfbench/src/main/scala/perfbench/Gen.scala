package perfbench

import graft.text.{Chunker, TextKernel}

/** A generated document. `source` is its upload file name. */
final case class GenDoc(id: Long, text: String) {
  def source: String = f"up_$id%06d.txt"
}

/** A generated corpus and the duplicate pairs planted in it (by doc id). */
final case class Corpus(docs: IndexedSeq[GenDoc], exactPairs: Seq[(Long, Long)],
                        nearPairs: Seq[(Long, Long)]) {
  def chars: Long = docs.map(_.text.length.toLong).sum
}

/** Seeded input generator. Every stream of randomness is derived from the
  * seed and a purpose label, so one input does not shift when another's
  * size changes. Text is Zipf-distributed words in sentences and
  * paragraphs (so the 400/100 splitter cuts at paragraph, sentence and
  * word boundaries); a document is a few KB.
  */
final class Gen(seed: Long) {
  private def rng(purpose: String) =
    new java.util.Random(seed * 1000003L ^ purpose.hashCode.toLong)

  private val vocab: Array[String] = {
    val r = rng("vocab")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 6000) {
      val len = 2 + r.nextInt(4) + (if (r.nextInt(3) == 0) r.nextInt(5) else 0)
      seen += Array.fill(len)(('a' + r.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  // Zipf(1.05) cumulative weights over vocabulary ranks
  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocab.length)(i => 1.0 / math.pow(i + 1, 1.05))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def word(r: java.util.Random): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
  }

  /** Paragraphs of sentences of words. */
  private type Doc = Array[Array[Array[String]]]

  private def freshDoc(r: java.util.Random): Doc =
    Array.fill(4 + r.nextInt(3))(
      Array.fill(4 + r.nextInt(4))(Array.fill(9 + r.nextInt(10))(word(r))))

  private def render(d: Doc): String =
    d.map(_.map { s =>
      val ws = s.clone()
      ws(0) = ws(0).capitalize
      ws.mkString(" ") + "."
    }.mkString(" ")).mkString("\n\n")

  /** A near copy: about `share` of the words replaced. */
  private def edit(d: Doc, r: java.util.Random, share: Double): Doc =
    d.map(_.map(_.map(w => if (r.nextDouble() < share) word(r) else w)))

  /** `n` documents with ids `firstId..`; a document is, with the given
    * shares, an exact copy or a near copy (2% of words replaced) of an
    * earlier original of the same call, else fresh.
    */
  def corpus(purpose: String, n: Int, firstId: Long,
             exactShare: Double, nearShare: Double): Corpus = {
    val r = rng(purpose)
    val originals = scala.collection.mutable.ArrayBuffer.empty[(Long, Doc)]
    val docs = IndexedSeq.newBuilder[GenDoc]
    val exact = Seq.newBuilder[(Long, Long)]
    val near = Seq.newBuilder[(Long, Long)]
    for (i <- 0 until n) {
      val id = firstId + i
      val u = r.nextDouble()
      val text =
        if (originals.size >= 4 && u < exactShare) {
          val (oid, od) = originals(r.nextInt(originals.size))
          exact += (oid -> id)
          render(od)
        } else if (originals.size >= 4 && u < exactShare + nearShare) {
          val (oid, od) = originals(r.nextInt(originals.size))
          near += (oid -> id)
          render(edit(od, r, 0.02))
        } else {
          val d = freshDoc(r)
          originals += (id -> d)
          render(d)
        }
      docs += GenDoc(id, text)
    }
    Corpus(docs.result(), exact.result(), near.result())
  }
}

/** The chunk-store contents the benchmark expects, computed without Spark
  * from the engine's own text kernels: every chunk of every document, and
  * per `text_hash` the first-arrival survivor (lowest filename, chunk_id,
  * id — the engine's deterministic dedup order).
  */
object Expected {
  final case class Row(filename: String, chunkId: Int, id: String, hash: String)

  def chunks(docs: Seq[GenDoc]): Seq[Row] =
    docs.flatMap { d =>
      Chunker.chunkWithOffsets(d.text).zipWithIndex.map { case ((content, _, _), i) =>
        Row(d.source, i, TextKernel.sanitizeKey(s"${d.source}_${d.id}_$i"),
          TextKernel.md5Hex(content))
      }
    }

  /** hash → surviving row. */
  def survivors(rows: Seq[Row]): Map[String, Row] =
    rows.groupBy(_.hash).map { case (h, rs) =>
      h -> rs.minBy(r => (r.filename, r.chunkId, r.id))
    }

  /** Order-independent digest of (id, text_hash) pairs. */
  def digest(pairs: Iterable[(String, String)]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    pairs.foldLeft(0L) { case (acc, (id, h)) =>
      val b = md.digest((id + "\u0000" + h).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      acc + java.nio.ByteBuffer.wrap(b).getLong
    }
  }
}
