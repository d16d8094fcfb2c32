package graft

import graft.operators.{Dedup, IncrementalHamming, IncrementalSwa, Spill}
import graft.operators.IncrementalHamming.Config

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IncrementalHammingSpec extends SparkTestBase {
  import spark.implicits._

  private val cfg = Config(idCol = "doc_id", sigCol = "sig64")

  private def sigs(rows: (Long, Long)*): DataFrame =
    rows.toDF("doc_id", "sig64")

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  // signatures chosen so hamming structure is explicit:
  // 0 and 1 differ in 1 bit; 0 and 0xFF.. differ in 64
  private val far = -1L // 64 bits from 0L

  test("ordered admission: smaller id wins within a delta and across deltas") {
    val root = Spill.newPath(spark) + "/h1"
    // delta 0: 1 and 2 near-dup (1 bit), 3 far → 2 dropped
    val l0 = ids(IncrementalHamming.admit(
      sigs((1L, 0L), (2L, 1L), (3L, far)), root, cfg, maxHamming = 3, 0L))
    assert(l0 == Set(2L))
    // delta 1: 10 near 1 (2 bits), 11 near the DROPPED 2 (1 bit —
    // entrants-indexed: dropped docs still dominate), 12 fresh
    // (0x0F0F: ≥ 6 bits from every prior signature)
    val l1 = ids(IncrementalHamming.admit(
      sigs((10L, 3L), (11L, 1L), (12L, 0x0F0FL)), root, cfg, 3, 1L))
    assert(l1 == Set(10L, 11L))
    val adm = IncrementalHamming.admittedIds(spark, root, cfg, 3)
    assert(ids(adm) == Set(1L, 3L, 12L))
    // admitted set carries the signatures
    assert(adm.columns.toSeq == Seq("doc_id", "sig64"))
  }

  test("replay of a version is idempotent: same losers, no row growth") {
    val root = Spill.newPath(spark) + "/h2"
    IncrementalHamming.admit(sigs((1L, 0L), (2L, far)), root, cfg, 3, 0L)
    val d1 = sigs((10L, 1L), (11L, 2L))
    val first = ids(IncrementalHamming.admit(d1, root, cfg, 3, 1L))
    val replay = ids(IncrementalHamming.admit(d1, root, cfg, 3, 1L))
    // 10 loses to stored 1; 11 loses to entrant 10 (1^2 = hamming 2)
    assert(first == Set(10L, 11L) && replay == first)
    val st = spark.read.parquet(s"$root/sigs/gen=0")
    assert(st.count() == 4L)
  }

  test("a different delta replayed under a written version is refused") {
    val root = Spill.newPath(spark) + "/h3"
    IncrementalHamming.admit(sigs((1L, 0L)), root, cfg, 3, 0L)
    val e = intercept[IllegalArgumentException] {
      IncrementalHamming.admit(sigs((1L, 5L)), root, cfg, 3, 0L)
    }
    assert(e.getMessage.contains("already written"))
  }

  test("non-monotone ids and null ids are refused by name") {
    val root = Spill.newPath(spark) + "/h4"
    IncrementalHamming.admit(sigs((5L, 0L)), root, cfg, 3, 0L)
    val e = intercept[IllegalArgumentException] {
      IncrementalHamming.admit(sigs((4L, far)), root, cfg, 3, 1L)
    }
    assert(e.getMessage.contains("append-only"))
    val n = intercept[IllegalArgumentException] {
      IncrementalHamming.admit(
        Seq((Option.empty[Long], 1L)).toDF("doc_id", "sig64"),
        root, cfg, 3, 1L)
    }
    assert(n.getMessage.toLowerCase.contains("null ids"))
  }

  test("reads on a missing store and intra-delta duplicate ids are refused") {
    val root = Spill.newPath(spark) + "/h10"
    val e = intercept[IllegalArgumentException] {
      IncrementalHamming.admittedIds(spark, root, cfg, 3)
    }
    assert(e.getMessage.contains("no hamming index state"))
    val p = intercept[IllegalArgumentException] {
      IncrementalHamming.pairs(spark, root, cfg, sigs((1L, 0L)), 3)
    }
    assert(p.getMessage.contains("no hamming index state"))
    val d = intercept[IllegalArgumentException] {
      IncrementalHamming.admit(sigs((1L, 0L), (1L, far)), root, cfg, 3, 0L)
    }
    assert(d.getMessage.contains("duplicate ids"))
  }

  test("maxHamming >= blocks is refused (pigeonhole exactness)") {
    val root = Spill.newPath(spark) + "/h5"
    val e = intercept[IllegalArgumentException] {
      IncrementalHamming.admit(sigs((1L, 0L)), root, cfg, maxHamming = 4, 0L)
    }
    assert(e.getMessage.contains("pigeonhole"))
  }

  test("pairs: probe lookup with exact hamming, id-equal excluded") {
    val root = Spill.newPath(spark) + "/h6"
    IncrementalHamming.ingest(sigs((1L, 0L), (2L, far)), root, cfg, 0L)
    val p = IncrementalHamming.pairs(spark, root, cfg,
      sigs((1L, 0L), (9L, 3L)), maxHamming = 3)
      .select("doc_id_probe", "doc_id", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    // probe 1 matches nothing (its only ≤3 neighbor IS id 1, excluded);
    // probe 9 (0b11) matches stored 1 (0b00) at hamming 2
    assert(p == Set((9L, 1L, 2)))
  }

  test("maintain folds past the threshold and gc's, serving unchanged") {
    val dir = Spill.newPath(spark) + "/hm"
    def batch(r: Range) = sigs(r.map(i => (i.toLong, i * 1024L + 5L)): _*)
    IncrementalHamming.ingest(batch(0 until 8), dir, cfg, 0L)
    IncrementalHamming.ingest(batch(8 until 16), dir, cfg, 1L)
    val before = IncrementalHamming.admittedIds(spark, dir, cfg,
      maxHamming = 3).collect().map(_.toString).sorted
    assert(IncrementalHamming.describe(spark, dir).versions == Seq(0L, 1L))
    assert(IncrementalHamming.maintain(spark, dir, cfg,
      compactWhenVersionsExceed = 1, gcKeepGenerations = 1))
    val info = IncrementalHamming.describe(spark, dir)
    assert(info.versions == Seq(1L) && info.committedGenerations.size == 1,
      info.toString)
    assert(IncrementalHamming.admittedIds(spark, dir, cfg, maxHamming = 3)
      .collect().map(_.toString).sorted.sameElements(before))
    assert(!IncrementalHamming.maintain(spark, dir, cfg,
      compactWhenVersionsExceed = 1, gcKeepGenerations = 1))
  }

  test("forget erases a dominating entrant: former losers re-admitted") {
    val root = Spill.newPath(spark) + "/h7"
    IncrementalHamming.admit(sigs((1L, 0L), (2L, 1L), (3L, far)),
      root, cfg, 3, 0L)
    assert(ids(IncrementalHamming.admittedIds(spark, root, cfg, 3))
      == Set(1L, 3L))
    IncrementalHamming.forgetIds(spark, root, cfg, Seq(1L).toDF("doc_id"))
    // 1 gone → 2 has no smaller entrant within 3 → admitted
    assert(ids(IncrementalHamming.admittedIds(spark, root, cfg, 3))
      == Set(2L, 3L))
    // forgotten ids stay burned: re-ingest below high water refused
    val e = intercept[IllegalArgumentException] {
      IncrementalHamming.ingest(sigs((1L, 0L)), root, cfg, 1L)
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("asOf replays the pre-forget decision; compact rebases and refuses") {
    val root = Spill.newPath(spark) + "/h8"
    IncrementalHamming.admit(sigs((1L, 0L), (2L, far)), root, cfg, 3, 0L)
    IncrementalHamming.admit(sigs((10L, 1L)), root, cfg, 3, 1L)
    assert(ids(IncrementalHamming.admittedIds(spark, root, cfg, 3,
      asOfVersion = Some(0L))) == Set(1L, 2L))
    assert(ids(IncrementalHamming.admittedIds(spark, root, cfg, 3))
      == Set(1L, 2L))
    IncrementalHamming.compact(spark, root, cfg)
    assert(IncrementalSwa.versions(spark, s"$root/sigs") == Seq(1L))
    assert(ids(IncrementalHamming.admittedIds(spark, root, cfg, 3))
      == Set(1L, 2L))
    val e = intercept[IllegalArgumentException] {
      IncrementalHamming.admittedIds(spark, root, cfg, 3,
        asOfVersion = Some(0L))
    }
    assert(e.getMessage.contains("rebased"))
  }

  test("hammingIndexStream: streamed state equals direct ingest; " +
      "versionBase keeps the bootstrap's slot") {
    val root = Spill.newPath(spark) + "/hs"
    IncrementalHamming.admit(sigs((1L, 0L), (2L, far)), root, cfg, 3, 0L)
    val deltaDir = Spill.newPath(spark) + "/hs_delta"
    sigs((10L, 1L), (11L, 0x0F0FL)).coalesce(1).write.parquet(deltaDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(deltaDir).schema).parquet(deltaDir)
    graft.streaming.StreamingIngest.hammingIndexStream(stream, root, cfg,
      versionBase = 1L)
    assert(IncrementalSwa.versions(spark, s"$root/sigs") == Seq(0L, 1L))
    // 10 (1 bit from stored 1) is a loser by the reconstructed
    // decision even though the stream never computed it
    assert(ids(IncrementalHamming.admittedIds(spark, root, cfg, 3))
      == Set(1L, 2L, 11L))
  }

  test("parity: admitted set equals the in-memory ordered rule on random sigs") {
    val rnd = new scala.util.Random(7)
    val data = (0L until 120L).map { i =>
      // cluster signatures around 8 centers with 0-2 flipped bits so
      // near-dups are common
      val base = (i % 8) * 0x9E3779B97F4A7C15L
      val flips = rnd.nextInt(3)
      val sig = (0 until flips).foldLeft(base)((s, _) =>
        s ^ (1L << rnd.nextInt(64)))
      (i, sig)
    }
    val root = Spill.newPath(spark) + "/h9"
    val (a, b) = data.partition(_._1 < 60L)
    IncrementalHamming.admit(sigs(a: _*), root, cfg, 3, 0L)
    IncrementalHamming.admit(sigs(b: _*), root, cfg, 3, 1L)
    val got = ids(IncrementalHamming.admittedIds(spark, root, cfg, 3))
    val expected = data.filter { case (i, s) =>
      !data.exists { case (j, t) =>
        j < i && java.lang.Long.bitCount(s ^ t) <= 3
      }
    }.map(_._1).toSet
    assert(got == expected)
  }

  test("a folded version is refused by the fold before the meta guard; " +
      "forget records its fold") {
    val root = Spill.newPath(spark) + "/h9"
    val d1 = sigs((10L, far), (11L, 0x0F0FL))
    IncrementalHamming.admit(sigs((1L, 0L), (2L, 1L)), root, cfg, 3, 0L)
    IncrementalHamming.admit(d1, root, cfg, 3, 1L)
    IncrementalHamming.compact(spark, root, cfg)
    // the identical delta is what the meta guard accepts as a replay,
    // an imposter what it refuses as "already written": both must
    // meet the fold guard first, on the admission and the bulk path
    val replay = intercept[IllegalArgumentException] {
      IncrementalHamming.admit(d1, root, cfg, 3, 1L)
    }
    assert(replay.getMessage.contains("fold"), replay.getMessage)
    val imposter = intercept[IllegalArgumentException] {
      IncrementalHamming.ingest(sigs((10L, 7L)), root, cfg, 1L)
    }
    assert(imposter.getMessage.contains("fold") &&
      !imposter.getMessage.contains("already written"), imposter.getMessage)
    IncrementalHamming.ingest(sigs((20L, 3L)), root, cfg, 2L)
    IncrementalHamming.forgetIds(spark, root, cfg, Seq(20L).toDF("doc_id"))
    assert(IncrementalHamming.describe(spark, root).foldedThrough == 2L)
  }
}
