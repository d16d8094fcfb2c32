package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.SplittableRandom

/** Seeded input generators. The same seed gives the same inputs; the
  * engine sees only the files written here, while the arrays stay in the
  * driver as ground truth for the reference checks. */
object Gen {
  val DayMs: Long = 86400000L
  /** 2023-11-15T00:00:00Z, a day boundary. */
  val Epoch0Ms: Long = 1700006400000L

  def rng(seed: Long, stream: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Rank sampler with P(rank r) ∝ 1 / (r + 1)^s, so low ranks are hot. */
  final class Zipf(n: Int, s: Double) {
    require(n >= 1)
    private val cdf: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var r = 0
      while (r < n) { acc += math.pow(r + 1.0, -s); c(r) = acc; r += 1 }
      c
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble() * cdf(n - 1)
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Interaction events in strictly increasing time order (one per
    * millisecond or sparser), so every event time is unique. User and
    * item ids are popularity ranks + 1. */
  final case class Events(user: Array[Int], item: Array[Int],
      tsMs: Array[Long], value: Array[Int], cat: Array[Byte]) {
    def n: Int = user.length
  }

  val Categories = 8

  def events(seed: Long, n: Int, users: Int, items: Int, startMs: Long,
      days: Int, skew: Double): Events = {
    val r = rng(seed, 1)
    val zu = new Zipf(users, skew)
    val zi = new Zipf(items, skew)
    val zc = new Zipf(Categories, 1.0)
    val step = days * DayMs / n
    require(step >= 1, "more events than milliseconds in the span")
    val ev = Events(new Array[Int](n), new Array[Int](n), new Array[Long](n),
      new Array[Int](n), new Array[Byte](n))
    var i = 0
    while (i < n) {
      ev.user(i) = zu.sample(r) + 1
      ev.item(i) = zi.sample(r) + 1
      ev.tsMs(i) = startMs + i * step + r.nextLong(step)
      ev.value(i) = 1 + r.nextInt(100)
      ev.cat(i) = zc.sample(r).toByte
      i += 1
    }
    ev
  }

  /** Training observations: (user, item, time) with the same popularity
    * skew as the events; the row id is the index. */
  final case class Spine(user: Array[Int], item: Array[Int], tsMs: Array[Long]) {
    def n: Int = user.length
  }

  def spine(seed: Long, n: Int, users: Int, items: Int, fromMs: Long,
      toMs: Long, skew: Double): Spine = {
    val r = rng(seed, 2)
    val zu = new Zipf(users, skew)
    val zi = new Zipf(items, skew)
    val sp = Spine(new Array[Int](n), new Array[Int](n), new Array[Long](n))
    var i = 0
    while (i < n) {
      sp.user(i) = zu.sample(r) + 1
      sp.item(i) = zi.sample(r) + 1
      sp.tsMs(i) = fromMs + r.nextLong(toMs - fromMs)
      i += 1
    }
    sp
  }

  /** Event indices per key id in 1..n, in event (time) order. */
  def byKey(keys: Array[Int], n: Int): Array[Array[Int]] = {
    val counts = new Array[Int](n + 1)
    keys.foreach(k => counts(k) += 1)
    val out = counts.map(c => new Array[Int](c))
    val fill = new Array[Int](n + 1)
    var i = 0
    while (i < keys.length) { val k = keys(i); out(k)(fill(k)) = i; fill(k) += 1; i += 1 }
    out
  }

  private def writeLines(file: File)(body: BufferedWriter => Unit): Long = {
    Files.createDirectories(file.toPath.getParent)
    val w = Files.newBufferedWriter(file.toPath, UTF_8)
    try body(w) finally w.close()
    file.length()
  }

  /** Events [from, until) as CSV with a header; returns bytes written. */
  def writeEvents(ev: Events, file: File, from: Int = 0, until: Int = -1): Long =
    writeLines(file) { w =>
      w.write("user_id,item_id,ts,value,category\n")
      val end = if (until < 0) ev.n else until
      var i = from
      val sb = new java.lang.StringBuilder(64)
      while (i < end) {
        sb.setLength(0)
        sb.append(ev.user(i)).append(',').append(ev.item(i)).append(',')
          .append(ev.tsMs(i)).append(',').append(ev.value(i)).append(",c")
          .append(ev.cat(i).toInt).append('\n')
        w.write(sb.toString)
        i += 1
      }
    }

  def writeSpine(sp: Spine, file: File): Long =
    writeLines(file) { w =>
      w.write("row_id,user_id,item_id,ts\n")
      var i = 0
      while (i < sp.n) {
        w.write(s"$i,${sp.user(i)},${sp.item(i)},${sp.tsMs(i)}\n")
        i += 1
      }
    }

  // ---- corpus ---------------------------------------------------------

  /** Kinds of generated documents. */
  object Kind {
    val Unique: Byte = 0
    /** Member of a planted near-duplicate cluster. */
    val Clustered: Byte = 1
    /** Low quality: too few words. */
    val Short: Byte = 2
    /** Low quality: symbol-heavy. */
    val Symbols: Byte = 3
    /** Low quality: one phrase repeated. */
    val Repeated: Byte = 4
    def lowQuality(k: Byte): Boolean = k >= Short
  }

  /** The gopher rules' English stopwords. */
  val Stopwords: Array[String] = Array("the", "a", "of", "and", "to", "in", "is", "that")

  /** Document `i` has id `i + 1`; `cluster(i)` is -1 outside clusters. */
  final case class Corpus(text: Array[String], kind: Array[Byte], cluster: Array[Int]) {
    def n: Int = text.length
  }

  /** Cluster sizes are drawn from 2..8 with P(size) ∝ size^-1.5, so most
    * clusters are pairs and a few are large. Each member of a cluster is
    * its original with one word replaced (5-word-shingle Jaccard ≥ 0.93
    * to the original); ids are shuffled so a cluster's minimum id is any
    * of its members. */
  def corpus(seed: Long, docs: Int, lowShare: Double, dupShare: Double,
      vocabSize: Int): Corpus = {
    val r = rng(seed, 3)
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      val stop = Stopwords.toSet
      while (seen.size < vocabSize) {
        val len = 3 + r.nextInt(7)
        val w = new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
        if (!stop(w)) seen += w
      }
      seen.toArray
    }
    def word(): String =
      if (r.nextInt(4) == 0) Stopwords(r.nextInt(Stopwords.length))
      else vocab(r.nextInt(vocab.length))
    def goodWords(): Array[String] = Array.fill(150 + r.nextInt(101))(word())

    val nLow = math.round(docs * lowShare).toInt
    val nDup = math.round(docs * dupShare).toInt
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val kinds = scala.collection.mutable.ArrayBuffer.empty[Byte]
    val clusters = scala.collection.mutable.ArrayBuffer.empty[Int]
    def add(t: String, k: Byte, c: Int): Unit = { texts += t; kinds += k; clusters += c }

    val sizes = new Zipf(7, 1.5)
    var inClusters = 0
    var cid = 0
    while (nDup - inClusters >= 2) {
      val size = math.min(sizes.sample(r) + 2, nDup - inClusters)
      val orig = goodWords()
      add(orig.mkString(" "), Kind.Clustered, cid)
      (1 until size).foreach { _ =>
        val copy = orig.clone()
        val pos = r.nextInt(copy.length)
        var w = word()
        while (w == copy(pos)) w = word()
        copy(pos) = w
        add(copy.mkString(" "), Kind.Clustered, cid)
      }
      inClusters += size
      cid += 1
    }
    (0 until nLow).foreach { i =>
      (i % 3) match {
        case 0 => add(Array.fill(10 + r.nextInt(30))(word()).mkString(" "), Kind.Short, -1)
        case 1 => add(goodWords().zipWithIndex
          .map { case (w, j) => if (j % 4 == 3) "###" else w }.mkString(" "), Kind.Symbols, -1)
        case _ =>
          val phrase = Array.fill(6)(word())
          add(Array.tabulate(150)(j => phrase(j % 6)).mkString(" "), Kind.Repeated, -1)
      }
    }
    while (texts.length < docs) add(goodWords().mkString(" "), Kind.Unique, -1)

    // Fisher-Yates over positions, so ids do not reveal the kind
    val perm = Array.range(0, texts.length)
    var i = perm.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    Corpus(perm.map(texts), perm.map(kinds), perm.map(clusters))
  }

  /** The corpus as JSON lines `{"id":…,"text":…}`; returns bytes written.
    * Texts hold only lowercase letters, '#' and spaces, so need no escaping. */
  def writeCorpus(c: Corpus, file: File): Long =
    writeLines(file) { w =>
      var i = 0
      while (i < c.n) {
        w.write(s"""{"id":${i + 1},"text":"${c.text(i)}"}""")
        w.newLine()
        i += 1
      }
    }
}
