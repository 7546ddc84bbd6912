package graft.perfbench

import java.io.File

/** Seeded document corpus in the shape of the sf0.1 `documents` fixture,
  * as measured on it (5000 rows): 10–100 words each, near-uniform (p10 19,
  * median 54, p90 90), drawn from a 30-word vocabulary, so short texts fail
  * the quality gate and long ones pass; 5 % near copies (250 rows, 243 of
  * them another document's text with ` dup` appended) and 0.16 % exact
  * copies (8 rows) for the dedup stages. Document ids are a seeded
  * permutation, so a copy's id precedes its original's about half the time
  * (116 of the 250 near copies in the fixture). The seed also assigns the
  * documents to waves of equal size.
  */
object Docs {

  val Vocabulary: IndexedSeq[String] = IndexedSeq("spark", "window", "merge",
    "table", "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")

  final case class Doc(docId: Long, text: String, wave: Int)

  def generate(n: Int, waves: Int, seed: Long): IndexedSeq[Doc] = {
    val rng = new scala.util.Random(seed)
    val texts = new Array[String](n)
    for (i <- 0 until n) {
      val roll = rng.nextInt(10000)
      texts(i) =
        if (i > 0 && roll < 16) texts(rng.nextInt(i))
        else if (i > 0 && roll < 516) texts(rng.nextInt(i)) + " dup"
        else
          Seq.fill(10 + rng.nextInt(91))(Vocabulary(rng.nextInt(Vocabulary.size)))
            .mkString(" ")
    }
    val ids = rng.shuffle((0 until n).toVector)
    // a seeded permutation cut into equal waves, so every wave does the
    // same amount of work
    val wave = new Array[Int](n)
    rng.shuffle((0 until n).toVector).zipWithIndex.foreach { case (doc, rank) =>
      wave(doc) = (rank.toLong * waves / n).toInt
    }
    texts.indices.map(i => Doc(ids(i).toLong, texts(i), wave(i)))
  }

  /** Write `docs` as one parquet file (`doc_id long, text string`). */
  def write(file: File, docs: Seq[Doc]): Unit =
    Fs.writeParquet(file,
      "message spark_schema { optional int64 doc_id; optional binary text (STRING); }",
      docs) { (g, d) => g.append("doc_id", d.docId).append("text", d.text); () }
}
