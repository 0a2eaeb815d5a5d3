package graft

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.{ZipEntry, ZipOutputStream}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.{UrlSource, XmlRecordSource}

/** Drives the web→lake fetch end to end against a LOCAL http fixture
  * (no egress): fetch a zip from the fixture server, land it in a lake
  * dir, and read it back through the same `graft-xml` source the ingest
  * pipeline uses — the literal flow of the reference's
  * ingest_web_to_gcs.py, minus the remote host. */
class UrlSourceSpec extends SparkSpec {
  import spark.implicits._

  private def zipBytes(entries: (String, String)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private def withServer[A](handler: HttpExchange => Unit)(body: String => A): A = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => handler(ex))
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("fetched archive lands atomically and round-trips through graft-xml") {
    val payload = zipBytes(
      "ratings.xml" -> XmlRecordSource.renderXml("p", Iterator(Seq("id" -> "1"), Seq("id" -> "2"))),
      "note.txt" -> "hi")
    withServer { ex =>
      ex.sendResponseHeaders(200, payload.length)
      ex.getResponseBody.write(payload)
      ex.close()
    } { base =>
      val lake = java.nio.file.Files.createTempDirectory("urlsrc").toString
      val dest = s"$lake/standard_jan24frl_xml.zip"
      val n = UrlSource.fetch(s"$base/standard_jan24frl_xml.zip", dest)
      assert(n === payload.length.toLong)
      // no in-progress temp left behind (Hadoop's local-FS .crc
      // checksum sidecars are expected)
      val names = new java.io.File(lake).listFiles().map(_.getName).toSet
      assert(names.filterNot(_.endsWith(".crc")) === Set("standard_jan24frl_xml.zip"),
        s"lake contents: $names")
      assert(!names.exists(_.contains(".inprogress")), s"partial fetch visible: $names")
      // The XML entry's records, and nothing of the text entry.
      val ids = spark.read.format("graft-xml").option("recordTag", "p").load(dest)
        .as[String].collect().sorted
      assert(ids.toSeq === Seq("1", "2"))
    }
  }

  test("transient 5xx responses are retried; exhaustion throws") {
    val calls = new AtomicInteger(0)
    val payload = zipBytes("a.xml" -> "<x/>")
    withServer { ex =>
      if (calls.incrementAndGet() <= 2) {
        ex.sendResponseHeaders(503, -1); ex.close()
      } else {
        ex.sendResponseHeaders(200, payload.length)
        ex.getResponseBody.write(payload)
        ex.close()
      }
    } { base =>
      val lake = java.nio.file.Files.createTempDirectory("urlsrc").toString
      val n = UrlSource.fetch(s"$base/flaky.zip", s"$lake/flaky.zip", backoffMs = 10L)
      assert(n === payload.length.toLong)
      assert(calls.get() === 3)
    }
    // a permanently-failing URL exhausts its retries and surfaces the error
    withServer { ex => ex.sendResponseHeaders(404, -1); ex.close() } { base =>
      val lake = java.nio.file.Files.createTempDirectory("urlsrc").toString
      val e = intercept[java.io.IOException] {
        UrlSource.fetch(s"$base/gone.zip", s"$lake/gone.zip",
          retries = 1, backoffMs = 10L)
      }
      assert(e.getMessage.contains("after 2 attempts"))
    }
  }

  test("monthlylistUrl derives the reference's period/category layout") {
    assert(UrlSource.monthlylistUrl("http://example.test/download", 2024, 1, "standard")
      === "http://example.test/download/standard_jan24frl_xml.zip")
    assert(UrlSource.monthlylistUrl("http://example.test/download", 2019, 11, "blitz")
      === "http://example.test/download/blitz_nov19frl_xml.zip")
  }
}
