package perfbench

import java.awt.image.BufferedImage
import java.nio.file.{Files, Path}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** splitmix64 stream: the one source of randomness for every input. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d4a2ca9ab4c19bL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  def between(lo: Int, hi: Int): Int = lo + nextInt(hi - lo + 1)
  /** A seeded permutation of 0 until n. */
  def shuffle(n: Int): IndexedSeq[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) { val j = nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq
  }
  def gaussian(): Double = {
    val u = math.max(nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * nextDouble())
  }
}

/** Seeded generators for every workload's inputs. The shapes follow the
  * sf0.1 fixtures (FIXTURES.md §A: `documents` 5,000 rows of ~300-char
  * text over a small vocabulary, `embeddings` 2,000 × 64 floats in 10
  * labels, `orders` 150,000 rows) and the image layout of FIXTURES.md §B,
  * with realistic image sizes. */
object Inputs {

  val Vocab: Array[String] = ("batch part spark line column order small sort fast value scan a hash " +
    "slow group agg filter query big key window row table stream merge data vector join customer " +
    "the index shard token model image label commit").split(" ")

  val BaseDocs    = 5000
  val BaseVectors = 2000
  val Dim         = 64

  /** Ids of planted copies: `copy -> original`, in the base id space. */
  final case class Planted(exactDocs: Map[Long, Long], nearDocs: Map[Long, Long], exactVecs: Map[Long, Long])

  /** Base `documents` and `embeddings` with planted exact and near copies,
    * written as parquet under `dir`. Near copies swap the last token of a
    * long document, so they stay above Jaccard 0.9 on 2- and 3-shingles. */
  def corpus(spark: SparkSession, seed: Long, dir: String, plantDocs: Int = 50, plantVecs: Int = 20): Planted = {
    val rng = new Rng(seed)
    val texts = Array.fill(BaseDocs) {
      Array.fill(rng.between(8, 96))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
    }
    val longDocs = texts.indices.filter(i => texts(i).count(_ == ' ') >= 40).toArray
    val exact = (0 until plantDocs).map(j => (BaseDocs + j).toLong -> rng.nextInt(BaseDocs).toLong).toMap
    val near = (0 until plantDocs).map { j =>
      (BaseDocs + plantDocs + j).toLong -> longDocs(rng.nextInt(longDocs.length)).toLong
    }.toMap
    def nearText(orig: String): String = {
      val toks = orig.split(" ")
      val last = toks.last
      var w = last
      while (w == last) w = Vocab(rng.nextInt(Vocab.length))
      (toks.init :+ w).mkString(" ")
    }
    val docRows = texts.indices.map(i => (i.toLong, texts(i))) ++
      exact.toSeq.sorted.map { case (c, o) => (c, texts(o.toInt)) } ++
      near.toSeq.sorted.map { case (c, o) => (c, nearText(texts(o.toInt))) }
    val langs = Array("en", "de", "fr", "es", "zh")
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    val docs = docRows.map { case (id, t) =>
      Row(id, t, langs(rng.nextInt(langs.length)), s"src${rng.nextInt(20)}", t.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 4), docSchema)
      .write.parquet(s"$dir/documents.parquet")

    val vecs = Array.fill(BaseVectors)(Array.fill(Dim)((rng.gaussian() * 0.14).toFloat))
    val exactV = (0 until plantVecs).map(j => (BaseVectors + j).toLong -> rng.nextInt(BaseVectors).toLong).toMap
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)), StructField("label", IntegerType)))
    val vecRows = vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq, rng.nextInt(10))) ++
      exactV.toSeq.sorted.map { case (c, o) => Row(c, vecs(o.toInt).toSeq, rng.nextInt(10)) }
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, 1), vecSchema)
      .write.parquet(s"$dir/embeddings.parquet")
    Planted(exact, near, exactV)
  }

  // ------------------------------------------------------------- orders

  final case class Order(key: Long, cust: Long, status: String, price: Double, dateMs: Long, priority: String)

  val OrderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  val Statuses   = Array("O", "F", "P")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Day = 86400000L
  private val Epoch1995 = 788918400000L // 1995-01-01T00:00:00Z

  def order(rng: Rng, key: Long): Order =
    Order(key, rng.nextInt(15000).toLong, Statuses(rng.nextInt(3)),
      math.round(rng.nextDouble() * 50000000.0) / 100.0,
      Epoch1995 + rng.nextInt(2404) * Day, Priorities(rng.nextInt(5)))

  def orderRow(o: Order): Row =
    Row(o.key, o.cust, o.status, o.price, new java.sql.Timestamp(o.dateMs), o.priority)

  def ordersDf(spark: SparkSession, rows: Seq[Order], partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(orderRow), partitions), OrderSchema)

  // -------------------------------------------------------------- images

  val Classes: Seq[String] = Seq("daisy", "dandelion", "roses", "sunflowers", "tulips")

  /** A seeded JPEG corpus under `root/flower_photos/label=<class>/`:
    * `originals` photos-sized images (192–320 × 144–240 px) of smooth
    * gradients and blobs, then bit-identical copies (`_dup`) and
    * brightness-shifted copies (`_bright`) of a seeded subset. Returns the
    * `flower_photos` dir, the relative names of the exact copies, and the
    * total bytes written. */
  def jpegCorpus(seed: Long, root: String, originals: Int, exactCopies: Int, shiftedCopies: Int)
      : (String, Seq[String], Long) = {
    val rng  = new Rng(seed)
    val base = Path.of(root, "flower_photos")
    var bytes = 0L
    val names = (0 until originals).map { i =>
      val cls = Classes(i % Classes.length)
      val dir = base.resolve(s"label=$cls")
      Files.createDirectories(dir)
      val img = paint(rng, rng.between(192, 320), rng.between(144, 240))
      val f = dir.resolve(f"img_$i%04d.jpg")
      ImageIO.write(img, "jpg", f.toFile)
      bytes += Files.size(f)
      (cls, i, f)
    }
    val picks = rng.shuffle(originals).take(exactCopies + shiftedCopies)
    val exact = picks.take(exactCopies).map { i =>
      val (cls, _, f) = names(i)
      val dst = f.resolveSibling(f"img_$i%04d_dup.jpg")
      Files.copy(f, dst)
      bytes += Files.size(dst)
      s"label=$cls/${dst.getFileName}"
    }
    picks.drop(exactCopies).foreach { i =>
      val (_, _, f) = names(i)
      val src = ImageIO.read(f.toFile)
      val out = new BufferedImage(src.getWidth, src.getHeight, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until src.getHeight; x <- 0 until src.getWidth) {
        val p = src.getRGB(x, y)
        def c(v: Int) = math.min(255, math.max(0, v + 8))
        out.setRGB(x, y, (c((p >> 16) & 0xff) << 16) | (c((p >> 8) & 0xff) << 8) | c(p & 0xff))
      }
      val dst = f.resolveSibling(f"img_$i%04d_bright.jpg")
      ImageIO.write(out, "jpg", dst.toFile)
      bytes += Files.size(dst)
    }
    (base.toString, exact, bytes)
  }

  private def paint(rng: Rng, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    val (r0, g0, b0) = (rng.nextInt(256), rng.nextInt(256), rng.nextInt(256))
    val (dx, dy) = (rng.nextDouble() * 2 - 1, rng.nextDouble() * 2 - 1)
    val blobs = Array.fill(6)((rng.nextInt(w), rng.nextInt(h), rng.between(8, 48), rng.nextInt(0xffffff)))
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val t = (dx * x / w + dy * y / h) * 96
        var rgb = (clamp(r0 + t) << 16) | (clamp(g0 - t) << 8) | clamp(b0 + t / 2)
        var k = 0
        while (k < blobs.length) {
          val (cx, cy, rad, col) = blobs(k)
          if ((x - cx) * (x - cx) + (y - cy) * (y - cy) < rad * rad) rgb = col
          k += 1
        }
        px(y * w + x) = rgb
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    img
  }

  private def clamp(v: Double): Int = math.max(0, math.min(255, v.toInt))
}
