package graft

import graft.operators._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** [[RespOnlineStore]] against the in-process RESP server: wire
  * framing, binary-safe values, replace-on-write semantics, pipelining
  * across the flush boundary, the distributed sink path
  * (`Materializer.write` → one pipelined batch stream per partition), and
  * the connection pool: reconnects after a server restart, no
  * desynchronised connection after a failed write, and at most one
  * connection per concurrent caller.
  */
class RespOnlineStoreSpec extends SparkTestBase {

  private def withServer(f: (EmbeddedRespServer, RespOnlineStore) => Unit): Unit = {
    val server = new EmbeddedRespServer
    try f(server, new RespOnlineStore("127.0.0.1", server.port))
    finally server.stop()
  }

  test("put/get round-trips values RESP-unsafe for line protocols") {
    withServer { (_, store) =>
      val nasty = Map(
        "f_text" -> "line1\r\nline2 = x\t\"quoted\"",
        "f_unicode" -> "héllo wörld ∑∆ 日本語",
        "f_empty" -> "",
        "f_num" -> "3.14159")
      store.put("t", "user#42", nasty)
      assert(store.get("t", "user#42").contains(nasty))
      assert(store.get("t", "no-such-key").isEmpty)
      assert(store.get("other-table", "user#42").isEmpty)
    }
  }

  test("write replaces the whole feature map, never merges stale fields") {
    withServer { (_, store) =>
      store.put("t", "k", Map("old_field" -> "1", "shared" -> "a"))
      store.put("t", "k", Map("shared" -> "b"))
      assert(store.get("t", "k").contains(Map("shared" -> "b")),
        "stale old_field must not survive a re-materialization")
    }
  }

  test("putAll pipelines across the flush boundary") {
    withServer { (server, store) =>
      val n = 1300 // > maxPipeline=512 → at least 3 flush/drain cycles
      store.putAll("t", (0 until n).iterator.map(i => s"k$i" -> Map("v" -> i.toString)))
      // every row costs a DEL + an HSET
      assert(server.commandCount.get() == 2L * n)
      assert(store.get("t", "k0").contains(Map("v" -> "0")))
      assert(store.get("t", s"k${n - 1}").contains(Map("v" -> (n - 1).toString)))
      // KEYS enumeration sees exactly the written keys, table-scoped
      assert(store.scanKeys("t").toSet == (0 until n).map(i => s"k$i").toSet)
      assert(store.scanKeys("other").isEmpty)
    }
  }

  test("SCAN enumerates via bounded cursor batches, agrees with KEYS") {
    withServer { (server, store) =>
      val n = 100
      store.putAll("t",
        (0 until n).iterator.map(i => f"k$i%03d" -> Map("v" -> i.toString)))
      val before = server.commandCount.get()
      val scanned = store.scanKeys("t", batch = 7)
      val scanCmds = server.commandCount.get() - before
      assert(scanned.toSet == (0 until n).map(i => f"k$i%03d").toSet)
      // 100 keys at <=7 per round-trip -> exactly ceil(100/7)=15 SCANs:
      // every batch is bounded, and the iteration actually uses the
      // returned cursor instead of one blocking enumeration
      assert(scanCmds == 15, s"expected 15 SCAN round-trips, saw $scanCmds")
      assert(store.keys("t").sorted == scanned.sorted)
      assert(store.scanKeys("other", batch = 7).isEmpty)
    }
  }

  test("command-validation errors reply -ERR and keep the connection alive") {
    withServer { (server, _) =>
      val sock = new java.net.Socket("127.0.0.1", server.port)
      try {
        val out = sock.getOutputStream
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream))
        def send(args: String*): Unit = {
          val b = new StringBuilder(s"*${args.size}\r\n")
          args.foreach(a => b.append(s"$$${a.length}\r\n$a\r\n"))
          out.write(b.toString.getBytes("UTF-8")); out.flush()
        }
        // unsupported glob (inner '*') must not kill the connection
        send("SCAN", "0", "MATCH", "a*b", "COUNT", "5")
        assert(in.readLine().startsWith("-ERR"), "validation error → -ERR reply")
        // non-numeric COUNT likewise
        send("SCAN", "0", "COUNT", "xyz")
        assert(in.readLine().startsWith("-ERR"))
        // the same connection still serves commands
        send("PING")
        assert(in.readLine() == "+PONG", "connection must survive -ERR")
      } finally sock.close()
    }
  }

  test("Materializer online sink: one pipelined connection per partition") {
    withServer { (_, store) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          (0 until 200).map(i => Row(i.toLong, s"name$i", i * 1.5)), 8),
        StructType(Seq(
          StructField("user_id", LongType),
          StructField("f_name", StringType),
          StructField("f_score", DoubleType))))
      Materializer.write(df, Seq("user_id"), OutputSink.Online("feat", store))
      // serving-path parity: every row is point-readable with the same
      // stringified values the FileOnlineStore sink contract produces
      (0 until 200 by 37).foreach { i =>
        assert(store.get("feat", i.toString).contains(
          Map("f_name" -> s"name$i", "f_score" -> (i * 1.5).toString)))
      }
      assert(store.get("feat", "200").isEmpty)
    }
  }

  test("deleteKeys erases the online rows for exactly the given keys") {
    withServer { (_, store) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          (0 until 60).map(i => Row(i.toLong, s"name$i")), 4),
        StructType(Seq(
          StructField("user_id", LongType),
          StructField("f_name", StringType))))
      Materializer.write(df, Seq("user_id"), OutputSink.Online("gdpr", store))
      val gone = df.where(org.apache.spark.sql.functions.col("user_id") % 3 === 0)
      Materializer.deleteKeys(gone, Seq("user_id"),
        Seq(OutputSink.Online("gdpr", store)))
      (0 until 60).foreach { i =>
        val got = store.get("gdpr", i.toString)
        if (i % 3 == 0) assert(got.isEmpty, s"key $i must be erased")
        else assert(got.contains(Map("f_name" -> s"name$i")), s"key $i lost")
      }
      // file sinks are refused by name — offline erasure is a rewrite
      val e = intercept[IllegalArgumentException] {
        Materializer.deleteKeys(gone, Seq("user_id"),
          Seq(OutputSink.Generic("parquet", "/tmp/x", "overwrite", Map(), None)))
      }
      assert(e.getMessage.contains("file sink"), e.getMessage)
      // and the FileOnlineStore override deletes the file, not writes
      // an empty one
      val fdir = java.nio.file.Files.createTempDirectory("fos").toString
      val fos = new FileOnlineStore(fdir)
      fos.put("t", "a", Map("x" -> "1")); fos.put("t", "b", Map("x" -> "2"))
      fos.deleteAll("t", Iterator("a"))
      assert(fos.get("t", "a").isEmpty && fos.get("t", "b").nonEmpty)
    }
  }

  test("readOnline round-trips the write path; absent keys carry nulls") {
    withServer { (_, store) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          (0 until 40).map(i => Row(i.toLong, s"r$i", s"name$i", i * 1.5)), 4),
        StructType(Seq(
          StructField("user_id", LongType),
          StructField("region", StringType),
          StructField("f_name", StringType),
          StructField("f_score", DoubleType))))
      val sink = OutputSink.Online("serve", store)
      Materializer.write(df, Seq("user_id", "region"), sink)
      // 40 written keys + 2 absent ones, composite '#' key encoding
      val keys = spark.createDataFrame(
        spark.sparkContext.parallelize(
          ((0 until 40) ++ Seq(98, 99)).map(i => Row(i.toLong, s"r$i")), 3),
        StructType(Seq(
          StructField("user_id", LongType),
          StructField("region", StringType))))
      val got = FeathrClient.getOnlineFeatures(keys,
          Seq("user_id", "region"), sink, Seq("f_name", "f_score"))
        .collect().map(r => (r.getString(0), r.getString(1),
          Option(r.getString(2)), Option(r.getString(3)))).toSet
      val expected = (0 until 40).map(i => (i.toString, s"r$i",
        Some(s"name$i"), Some((i * 1.5).toString))).toSet ++
        Seq(98, 99).map(i => (i.toString, s"r$i", None, None))
      assert(got == expected)
    }
  }

  test("getOnlineFeaturesMulti: one request row assembles user- and item-keyed features") {
    withServer { (_, store) =>
      // two sinks, two key spaces — the ranking-request serving shape
      val users = spark.createDataFrame(
        spark.sparkContext.parallelize(
          (0 until 10).map(i => Row(i.toLong, s"uname$i")), 2),
        StructType(Seq(StructField("user_id", LongType),
          StructField("f_user_name", StringType))))
      val items = spark.createDataFrame(
        spark.sparkContext.parallelize(
          (100 until 110).map(i => Row(i.toLong, i * 2.0)), 2),
        StructType(Seq(StructField("item_id", LongType),
          StructField("f_item_score", DoubleType))))
      val uSink = OutputSink.Online("users", store)
      val iSink = OutputSink.Online("items", store)
      Materializer.write(users, Seq("user_id"), uSink)
      Materializer.write(items, Seq("item_id"), iSink)

      // requests: (user 3, item 105), (user 7, absent item), (absent
      // user, item 101) — every row survives, absences carry nulls
      val requests = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(3L, 105L, "a"), Row(7L, 999L, "b"), Row(55L, 101L, "c")), 2),
        StructType(Seq(StructField("user_id", LongType),
          StructField("item_id", LongType),
          StructField("req_tag", StringType))))
      val bindings = Seq(
        Materializer.OnlineBinding(Seq("user_id"), uSink, Seq("f_user_name")),
        Materializer.OnlineBinding(Seq("item_id"), iSink, Seq("f_item_score")))
      val got = FeathrClient.getOnlineFeaturesMulti(requests, bindings)
        .select("req_tag", "f_user_name", "f_item_score")
        .collect().map(r => (r.getString(0), Option(r.getString(1)),
          Option(r.getString(2)))).toSet
      assert(got == Set(
        ("a", Some("uname3"), Some("210.0")),
        ("b", Some("uname7"), None),
        ("c", None, Some("202.0"))), got.toString)

      // refusals by name: duplicate feature across bindings; request
      // missing a binding's key column
      val dup = intercept[IllegalArgumentException] {
        Materializer.readOnlineMulti(requests, Seq(
          Materializer.OnlineBinding(Seq("user_id"), uSink, Seq("f_x")),
          Materializer.OnlineBinding(Seq("item_id"), iSink, Seq("f_x"))))
      }
      assert(dup.getMessage.contains("f_x"), dup.getMessage)
      val missing = intercept[IllegalArgumentException] {
        Materializer.readOnlineMulti(requests.drop("item_id"), bindings)
      }
      assert(missing.getMessage.contains("item_id"), missing.getMessage)
    }
  }

  private def user(i: Int): Map[String, String] = Map("f_a" -> s"a$i", "f_b" -> (i * 0.5).toString)
  private def item(i: Int): Map[String, String] = Map("f_s" -> s"s$i")

  /** Writes `users` user maps and `items` item maps. */
  private def seed(store: RespOnlineStore, users: Int, items: Int): Unit = {
    store.putAll("u", (0 until users).iterator.map(i => s"u$i" -> user(i)))
    store.putAll("i", (0 until items).iterator.map(i => s"i$i" -> item(i)))
  }

  /** One ranking request (a user `get` plus a 20-item `getAll`, one
    * key absent), true when every value is exactly right. */
  private def rankingRequest(store: RespOnlineStore, n: Int): Boolean = {
    val keys = (0 until 19).map(j => s"i${(n * 7 + j) % 100}") :+ "i-absent"
    store.get("u", s"u${n % 50}").contains(user(n % 50)) &&
      store.getAll("i", keys) == keys.map(k =>
        k -> (if (k == "i-absent") None else Some(item(k.drop(1).toInt))))
  }

  /** Live threads serving connections of the server on `port`. */
  private def connThreads(port: Int): Set[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.isAlive && t.getName.startsWith(s"resp-conn-$port-"))
  }

  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    assert(cond, what)
  }

  test("a server restart mid-reads costs a reconnect, never a wrong or stale value") {
    val server = new EmbeddedRespServer
    val port = server.port
    try {
      val store = new RespOnlineStore("127.0.0.1", port)
      seed(store, 50, 100)
      assert(rankingRequest(store, 1))
      val accepted = server.acceptedCount.get()
      server.closeConnections()
      // the pooled connection is dead: the next calls reconnect once and
      // still read exactly the written values
      assert(store.get("u", "u3").contains(user(3)))
      assert(store.getAll("i", Seq("i5", "i-absent", "i7")) ==
        Seq("i5" -> Some(item(5)), "i-absent" -> None, "i7" -> Some(item(7))))
      assert(rankingRequest(store, 2))
      assert(server.acceptedCount.get() == accepted + 1,
        s"one reconnect expected, accepted ${server.acceptedCount.get() - accepted}")
      eventually("the dropped connection's thread must end")(connThreads(port).size == 1)

      server.stop()
      // a stopped server fails reads, in bounded time, and never answers
      // from a stale connection
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val reads = Seq[() => Any](() => store.get("u", "u3"),
        () => store.getAll("i", Seq("i5")), () => store.scanKeys("u"))
      reads.foreach { read =>
        val outcome = Await.result(Future(scala.util.Try(read())), 10.seconds)
        assert(outcome.isFailure, s"read after stop() returned $outcome")
      }
    } finally server.stop()
  }

  test("a putAll whose rows fail part-way leaves no desynchronised connection behind") {
    withServer { (_, store) =>
      seed(store, 50, 100)
      val boom = intercept[IllegalStateException] {
        // 600 rows are 1200 commands: more than two 512-command batches
        // are on the wire before the iterator fails
        store.putAll("w", (0 until 1000).iterator.map { i =>
          if (i == 600) throw new IllegalStateException("row source failed")
          s"w$i" -> Map("v" -> i.toString)
        })
      }
      assert(boom.getMessage == "row source failed")
      assert(store.get("u", "u4").contains(user(4)))
      assert(store.get("u", "u-absent").isEmpty)
      assert(store.getAll("i", Seq("i9", "i-absent", "i0")) ==
        Seq("i9" -> Some(item(9)), "i-absent" -> None, "i0" -> Some(item(0))))
      // rows written before the failure read back exactly or not at all
      val written = store.getAll("w", (0 until 600).map(i => s"w$i"))
      assert(written.zipWithIndex.forall { case ((_, got), i) =>
        got.forall(_ == Map("v" -> i.toString)) })
      assert(rankingRequest(store, 3))
    }
  }

  test("the pool bounds connections: one per concurrent caller, none outlive stop()") {
    val server = new EmbeddedRespServer
    val port = server.port
    try {
      val store = new RespOnlineStore("127.0.0.1", port)
      seed(store, 50, 100)
      (0 until 100).foreach(n => assert(rankingRequest(store, n), s"request $n"))
      assert(server.acceptedCount.get() == 1,
        s"sequential requests must share one connection, accepted ${server.acceptedCount.get()}")

      val threads = 32
      val start = new java.util.concurrent.CountDownLatch(1)
      val wrong = new java.util.concurrent.atomic.AtomicInteger()
      val workers = (0 until threads).map { t =>
        val w = new Thread(() => {
          start.await()
          (0 until 50).foreach { n =>
            val ok = try rankingRequest(store, t * 50 + n) catch { case _: Exception => false }
            if (!ok) wrong.incrementAndGet()
          }
        })
        w.start(); w
      }
      start.countDown()
      workers.foreach(_.join(60000))
      assert(workers.forall(!_.isAlive), "clients must finish")
      assert(wrong.get() == 0, s"${wrong.get()} wrong or failed requests")
      assert(server.acceptedCount.get() <= threads,
        s"accepted ${server.acceptedCount.get()} connections for $threads callers")
      assert(connThreads(port).nonEmpty)
    } finally server.stop()
    eventually("no connection thread may outlive stop()")(connThreads(port).isEmpty)
  }
}
