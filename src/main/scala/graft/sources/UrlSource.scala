package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Web → lake fetch adapter — the literal first hop of the reference's
  * ingest flow (`ingest_web_to_gcs.py:40-70`,
  * `generate_fide_download_url` + `stream_zip_file`): download a URL's
  * bytes and land them at a lake path that the `graft-xml` source
  * (`RatingsPipeline.ingestPeriod`) reads, closing the one capability
  * gap the engine had left external. Deliberately thin and driver-side: the
  * reference fetches ONE archive per (month, category) — control-plane
  * work — and the data-plane fan-out happens after landing, where
  * executors split the archives. Retries with exponential backoff
  * mirror the reference's `@task(retries=3)`; the download streams
  * through a temp file and renames into place, so a partially-fetched
  * archive is never visible at the lake path.
  */
object UrlSource {

  /** Monthly rating-list archive URL, as the reference derives it
    * (`ingest_web_to_gcs.py:40-49`): period + category interpolated
    * into the public download path. */
  def monthlylistUrl(baseUrl: String, year: Int, month: Int, category: String): String = {
    val mon = java.time.Month.of(month).name.take(3).toLowerCase
    val yy = f"${year % 100}%02d"
    s"$baseUrl/${category}_${mon}${yy}frl_xml.zip"
  }

  /** Fetch `url` into `dest` (any Hadoop-visible path). Returns bytes
    * landed. Non-2xx responses and transport failures are retried
    * `retries` times with exponential backoff, then rethrown. */
  def fetch(url: String, dest: String,
            conf: Configuration = new Configuration(),
            retries: Int = 3, backoffMs: Long = 200L): Long = {
    val client = HttpClient.newBuilder()
      .followRedirects(HttpClient.Redirect.NORMAL)
      .connectTimeout(java.time.Duration.ofSeconds(30))
      .build()
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt <= retries) {
      try {
        val req = HttpRequest.newBuilder(URI.create(url)).GET().build()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofInputStream())
        try {
          if (resp.statusCode() / 100 != 2)
            throw new java.io.IOException(s"HTTP ${resp.statusCode()} fetching $url")
          val path = new Path(dest)
          val fs = path.getFileSystem(conf)
          if (path.getParent != null) fs.mkdirs(path.getParent)
          val tmp = new Path(path.getParent, "." + path.getName + ".inprogress")
          val out = fs.create(tmp, true)
          val n = try resp.body().transferTo(out) finally out.close()
          if (fs.exists(path)) fs.delete(path, false)
          if (!fs.rename(tmp, path))
            throw new java.io.IOException(s"rename $tmp -> $path failed")
          return n
        } finally resp.body().close()
      } catch {
        case e: Throwable =>
          lastErr = e
          attempt += 1
          if (attempt <= retries) Thread.sleep(backoffMs << (attempt - 1))
      }
    }
    throw new java.io.IOException(
      s"fetch of $url failed after ${retries + 1} attempts", lastErr)
  }
}
