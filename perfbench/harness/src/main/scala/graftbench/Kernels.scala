package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.PgOutput
import graft.functions.HashOps

/** Per-item cost of the kernels, called directly on the run's inputs:
  * HashOps MinHash (128 permutations over distinct 3-word shingles),
  * SimHash (over tokens) and cosine (over embedding pairs), and the
  * pgoutput codec on a seeded feed. Each kernel runs over its items
  * repeatedly for ~[[BudgetMs]]; the figure is the median round's
  * ns per item. */
object Kernels {
  val BudgetMs = 300L

  private def nsPerItem(items: Int)(round: => Unit): Double = {
    round // warm
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val end = System.nanoTime() + BudgetMs * 1000000L
    while (rounds.size < 3 || System.nanoTime() < end) {
      val t0 = System.nanoTime()
      round
      rounds += (System.nanoTime() - t0).toDouble / items
    }
    rounds.sorted.apply(rounds.size / 2)
  }

  private def strings(xs: Seq[String]): ArrayData =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])

  def measure(spark: SparkSession, data: String, seed: Long): Json.Obj = {
    val texts = spark.read.parquet(s"$data/documents.parquet")
      .select("text").limit(2000).collect().map(_.getString(0)).toSeq
    val tokens = texts.map(t => strings(t.split(" ").toSeq))
    val shingles = texts.map { t =>
      strings(t.split(" ").toSeq.sliding(3).map(_.mkString(" ")).toSeq.distinct)
    }
    val vecs = spark.read.parquet(s"$data/embeddings.parquet")
      .select("embedding").limit(2000).collect()
      .map(r => new GenericArrayData(r.getSeq[Float](0).map(_.toDouble).toArray[Any]): ArrayData).toSeq
    var sink = 0L
    val minhash = nsPerItem(shingles.size) {
      shingles.foreach(s => sink += HashOps.minhashSig(s, 128).getLong(0)) }
    val simhash = nsPerItem(tokens.size) { tokens.foreach(t => sink += HashOps.simhash64(t)) }
    val pairs = vecs.indices.map(i => (vecs(i), vecs((i * 7 + 1) % vecs.size)))
    val cosine = nsPerItem(pairs.size) {
      pairs.foreach { case (a, b) => sink += (HashOps.cosine(a, b) * 1e6).toLong } }
    val feed = new Feed(seed, 4000)
    val msgs = (0 until 5000).map(i => Feed.message(feed.next(i.toLong)))
    val encoded = msgs.map(PgOutput.encode)
    val encode = nsPerItem(msgs.size) { msgs.foreach(m => sink += PgOutput.encode(m).length) }
    val decode = nsPerItem(encoded.size) {
      encoded.foreach(b => sink += PgOutput.decode(b).hashCode) }
    Json.Obj("minhash_ns" -> minhash, "simhash_ns" -> simhash, "cosine_ns" -> cosine,
      "pg_encode_ns" -> encode, "pg_decode_ns" -> decode, "checksum" -> sink)
  }
}
