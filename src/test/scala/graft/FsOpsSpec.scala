package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.CopyOnWriteArrayList

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.functions._

import graft.sink.{HttpSink, NetcoreClient, NetcoreSink}
import graft.source.{CsvSource, FsOps, ProfileSource}

/** Control-plane ops (S9 subset), CSV ingress (S12), Netcore staging
  * (S5), and observable egress metrics (R21). */
class FsOpsSpec extends SparkSpec {
  import spark.implicits._

  test("FsOps: write/read/exists/list/copy/delete on file://") {
    val dir = "file://" + Files.createTempDirectory("graft-fs").toString
    val ops = new FsOps(spark)
    assert(!ops.exists(s"$dir/a.txt"))
    ops.writeString(s"$dir/a.txt", "hello")
    assert(ops.exists(s"$dir/a.txt"))
    assert(ops.readString(s"$dir/a.txt") == "hello")
    ops.copy(s"$dir/a.txt", s"$dir/b.txt")
    assert(ops.listKeys(dir).map(_.split('/').last).sorted == Seq("a.txt", "b.txt"))
    assert(ops.delete(s"$dir/a.txt"))
    assert(!ops.exists(s"$dir/a.txt"))
  }

  test("FsOps: listPrefixes, gzip roundtrip, downloadFile, verified CSV write") {
    val dir = "file://" + Files.createTempDirectory("graft-fs2").toString
    val ops = new FsOps(spark)
    ops.writeString(s"$dir/sub1/a.txt", "1")
    ops.writeString(s"$dir/sub2/b.txt", "2")
    ops.writeString(s"$dir/top.txt", "t")
    assert(ops.listPrefixes(dir).map(_.split('/').last).sorted == Seq("sub1", "sub2"))
    ops.writeStringGzip(s"$dir/z.gz", "compressed payload")
    assert(ops.readStringGzip(s"$dir/z.gz") == "compressed payload")
    val local = Files.createTempDirectory("graft-dl").toString + "/got.txt"
    ops.downloadFile(s"$dir/top.txt", local)
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(local))) == "t")
    val n = CsvSource.writeVerified(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), s"$dir/csvv")
    assert(n == 2L)
  }

  test("ProfileSource.resolve: XOR contract (B1 intent)") {
    val dir = Files.createTempDirectory("graft-psrc").toString
    CsvSource.write(Seq((1L, "a")).toDF("id", "v").coalesce(1), s"$dir/csv")
    val df = Seq((2L, "b")).toDF("id", "v")
    assert(ProfileSource.resolve(spark, Some(df), None).collect().head.getLong(0) == 2L)
    assert(ProfileSource.resolve(spark, None, Some(s"$dir/csv")).count() == 1L)
    intercept[IllegalArgumentException] {
      ProfileSource.resolve(spark, Some(df), Some(s"$dir/csv"))
    }
    intercept[IllegalArgumentException] { ProfileSource.resolve(spark, None, None) }
  }

  test("existsPrefix matches S3-style key prefixes, not just objects") {
    val dir = "file://" + Files.createTempDirectory("graft-pfx").toString
    val ops = new FsOps(spark)
    ops.writeString(s"$dir/data_part_0.csv", "x")
    assert(ops.existsPrefix(s"$dir/data_part_0.csv")) // exact object
    assert(ops.existsPrefix(s"$dir/data_part"))       // pure prefix, no object
    assert(ops.existsPrefix(dir))                     // directory
    assert(!ops.existsPrefix(s"$dir/nope"))
  }

  test("CsvSource: header + inferred schema roundtrip") {
    val dir = Files.createTempDirectory("graft-csv").toString
    CsvSource.write(
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score").coalesce(1),
      s"$dir/out")
    val back = CsvSource.read(spark, s"$dir/out")
    assert(back.count() == 2)
    assert(back.schema("id").dataType.typeName == "integer" ||
      back.schema("id").dataType.typeName == "long")
    assert(back.schema("score").dataType.typeName == "double")
  }

  test("NetcoreSink: byte-bounded staging + notify per staged file") {
    val staging = Files.createTempDirectory("graft-stage").toString
    val notified = new CopyOnWriteArrayList[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        notified.add(ex.getRequestURI.toString)
        ex.sendResponseHeaders(200, 2); ex.getResponseBody.write("ok".getBytes); ex.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val rows = (1 to 500).map(i => s"$i,user$i,${i * 1.5}").toDF("csv")
        .repartition(2)
      val client = new NetcoreClient(url, "key1", "x@y.com")
      val staged = NetcoreSink.stageAndNotify(rows, "csv", "id,name,score",
        s"file://$staging", client, maxBytes = 2000).collect()
      assert(staged.nonEmpty && staged.forall(_.ok))
      assert(staged.forall(_.bytes <= 2000))
      assert(staged.map(_.records).sum == 500)
      // every staged file exists, has the header, and was notified once
      val ops = new FsOps(spark)
      staged.foreach { f =>
        assert(ops.readString(f.path).startsWith("id,name,score\n"))
      }
      assert(notified.size == staged.length)
      assert(notified.toArray.forall(_.toString.contains("apikey=key1")))
    } finally server.stop(0)
  }

  test("observable egress metrics ride the action (R21)") {
    val df = Seq(("1", "x"), (null, "y"), ("3", "z")).toDF("identity", "v")
    val obs = org.apache.spark.sql.Observation()
    HttpSink.observeEgress(df, obs, "identity").collect()
    val m = obs.get
    assert(m("records_processed") == 3L)
    assert(m("records_invalid") == 1L)
  }
}
