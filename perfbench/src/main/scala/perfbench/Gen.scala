package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.schema.{GraftSchema, GraftType}

/** Seeded input generators, one per workload. The same seed always
  * yields the same inputs; graft only ever sees the generated rows. */
object Gen {

  /** Queue payload contract covering all five GraftSchema types. */
  val queueSchema: GraftSchema = GraftSchema(
    ("id", GraftType.INTEGER), ("score", GraftType.REAL),
    ("text", GraftType.TEXT), ("blob", GraftType.BINARY),
    ("vec", GraftType.TENSOR))

  /** A generated queue row with its payload size and checksum, kept by
    * the benchmark to check what the queue hands back. */
  final case class Item(row: Row, payloadBytes: Long, crc: Long) {
    def id: Long = row.getLong(0)
  }

  /** Payload bytes of a queue row: the fixed-width fields plus the
    * text, blob and tensor contents. */
  def payloadBytes(r: Row): Long = {
    val vec = r.getStruct(4)
    16L + r.getString(2).getBytes(StandardCharsets.UTF_8).length +
      r.getAs[Array[Byte]](3).length + 4L * vec.getSeq[Int](0).length +
      8L * vec.getSeq[Double](1).length
  }

  /** Checksum over every payload field, computed the same way for a
    * generated row and for the row a pop returns. */
  def checksum(r: Row): Long = {
    val c = new CRC32
    val b = ByteBuffer.allocate(16)
    b.putLong(r.getLong(0)).putLong(java.lang.Double.doubleToLongBits(r.getDouble(1)))
    c.update(b.array())
    c.update(r.getString(2).getBytes(StandardCharsets.UTF_8))
    c.update(r.getAs[Array[Byte]](3))
    val vec = r.getStruct(4)
    vec.getSeq[Int](0).foreach(i => c.update(ByteBuffer.allocate(4).putInt(i).array()))
    vec.getSeq[Double](1).foreach(d =>
      c.update(ByteBuffer.allocate(8).putLong(java.lang.Double.doubleToLongBits(d)).array()))
    c.getValue
  }

  /** Payload generator for the queue workloads. Payload sizes are
    * log-normal around `medianBytes` (clipped to [minBytes, maxBytes]);
    * half of each payload is text drawn from a seeded vocabulary
    * (compressible), the rest random bytes (incompressible), plus a
    * small tensor. Ids run from 0 in push order. */
  final class QueueRows(seed: Long, medianBytes: Double, sigma: Double,
                        minBytes: Int, maxBytes: Int) {
    private val rnd = new Random(seed)
    private val vocab: Array[String] = Array.fill(1024) {
      rnd.alphanumeric.filter(_.isLetter).take(3 + rnd.nextInt(8)).mkString.toLowerCase
    }
    private var nextId = 0L

    private def sizeOf(): Int = {
      val s = medianBytes * math.exp(sigma * rnd.nextGaussian())
      math.max(minBytes, math.min(maxBytes, s.toInt))
    }

    private def text(n: Int): String = {
      val sb = new StringBuilder(n + 16)
      while (sb.length < n) { sb ++= vocab(rnd.nextInt(vocab.length)); sb += ' ' }
      sb.setLength(n)
      sb.toString
    }

    def next(): Item = {
      val size = sizeOf()
      val dims = 2 + rnd.nextInt(15)
      val textBytes = size / 2
      val blob = new Array[Byte](math.max(0, size - textBytes - 12 * dims))
      rnd.nextBytes(blob)
      val shape = if (dims % 2 == 0) Seq(2, dims / 2) else Seq(dims)
      val row = Row(nextId, rnd.nextDouble() * 1000.0, text(textBytes), blob,
        Row(shape, Seq.fill(dims)(rnd.nextGaussian())))
      nextId += 1
      Item(row, payloadBytes(row), checksum(row))
    }

    def batch(n: Int): IndexedSeq[Item] = IndexedSeq.fill(n)(next())
  }

  def frame(spark: SparkSession, items: Seq[Item]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(items.map(_.row).asJava, queueSchema.sparkSchema)
  }

  /** One document pushed by the stream generator. */
  final case class Doc(id: Long, text: String, kind: String)

  /** Stream inputs drawn from the corpus's `documents` table.
    *
    * The corpus is shuffled by the seed; its first `sigDocs` documents
    * seed the MinHash signature table (the "already accepted" corpus),
    * the rest are the pool of fresh documents. Each generated document
    * is, by seeded draw: an exact duplicate of an earlier document
    * (stream or signature corpus), a near duplicate (one word of an
    * earlier document replaced), a document quoting one of the eval
    * passages verbatim, or a fresh corpus document. Stream ids are
    * unique, increasing and disjoint from the corpus ids. */
  final class StreamDocs(seed: Long, corpus: IndexedSeq[(Long, String)], sigDocs: Int,
                         dupShare: Double, nearShare: Double, evalShare: Double) {
    private val rnd = new Random(seed)
    private val shuffled = rnd.shuffle(corpus)
    val signatureCorpus: IndexedSeq[(Long, String)] = shuffled.take(sigDocs)
    private val fresh = shuffled.drop(sigDocs)
    private var freshAt = 0
    private val seen = scala.collection.mutable.ArrayBuffer.from(signatureCorpus.map(_._2))
    /** Eval suite: passages of words that occur nowhere in the corpus. */
    val evalPassages: IndexedSeq[(Long, String)] = (0 until 4).map { j =>
      (9000000L + j, (1 to 40).map(i => s"evalq${seed % 97}p${j}w$i").mkString(" "))
    }
    private var nextId = 1000000000L

    def next(): Doc = {
      val u = rnd.nextDouble()
      val (kind, text) =
        if (u < dupShare) ("dup", seen(rnd.nextInt(seen.length)))
        else if (u < dupShare + nearShare) {
          val ws = seen(rnd.nextInt(seen.length)).split(" ")
          ws(rnd.nextInt(ws.length)) = "nearword" + rnd.nextInt(1000)
          ("near", ws.mkString(" "))
        } else if (u < dupShare + nearShare + evalShare) {
          val base = freshText().split(" ")
          val cut = base.length / 2
          ("eval", (base.take(cut) ++ Seq(evalPassages(rnd.nextInt(evalPassages.length))._2) ++
            base.drop(cut)).mkString(" "))
        } else ("fresh", freshText())
      if (kind != "eval") seen += text
      nextId += 1
      Doc(nextId, text, kind)
    }

    private def freshText(): String = {
      val t = fresh(freshAt % fresh.length)._2
      freshAt += 1
      // a second lap over the pool must not repeat texts verbatim
      if (freshAt > fresh.length) t + s" lap${freshAt / fresh.length}" else t
    }
  }
}
