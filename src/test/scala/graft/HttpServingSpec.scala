package graft

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import graft.pipelines.{Clean, Populate}
import graft.sources.{FileKvStore, SkillsHttpServer}

/** End-to-end contract of the HTTP serving shim
  * ([[graft.sources.SkillsHttpServer]]) — the process-level twin of the
  * reference's REST API (`rest_api/.../index.py:16-28`): rows published
  * to the KV store come back over HTTP GET byte-equal to the serving
  * queries' own answers. Covers the full reference dataflow's last
  * stage: clean → populate → publish → GET. */
class HttpServingSpec extends SparkTestBase {

  private def freshDir(name: String): String = {
    val d = s"target/test_http_serving/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(d))
    d
  }

  private def get(port: Int, path: String): (Int, String) = {
    val resp = HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Pull `"top_skill_n_<i>": "<v>"` fields out of a row JSON, in rank
    * order (skills are plain word tokens — no escapes to unpick). */
  private def skillsOf(json: String): Seq[(Int, String)] =
    """"top_skill_n_(\d+)": "([^"]*)"""".r.findAllMatchIn(json)
      .map(m => m.group(1).toInt -> m.group(2)).toSeq.sortBy(_._1)

  private def withServer(dir: String)(body: SkillsHttpServer => Unit): Unit = {
    val srv = new SkillsHttpServer(dir)
    srv.start()
    try body(srv) finally srv.stop()
  }

  test("GET /skills/<job_id> returns the q_serving_lookup row byte-equal") {
    val dir = freshDir("lookup")
    // Publish the catalog's wide pivot (documents at sf0.001) through the
    // reference-shaped sink, exactly as the populate stage would.
    val published = SparkEntry.queries("q_serving_pivot")(spark, Sf0001)
    Populate.writeTo(published, new FileKvStore(dir).rowSink("job_id"))
    // The authority: Q2's (job_id, rank, skill) unpack for src7.
    val lookup = SparkEntry.queries("q_serving_lookup")(spark, Sf0001).collect()
    assert(lookup.nonEmpty)
    val jobId = lookup.head.getString(0)
    val expected = lookup.map(r => r.getInt(1) -> r.getString(2)).toSeq

    withServer(dir) { srv =>
      val (code, body) = get(srv.port, s"/skills/$jobId")
      assert(code == 200, body)
      assert(body.contains(s""""job_id": "$jobId""""))
      assert(body.contains(""""job": "src7""""))
      assert(skillsOf(body) == expected,
        s"HTTP row diverges from q_serving_lookup: $body")
    }
  }

  test("clean -> populate -> publish -> GET runs the full reference dataflow") {
    val dir = freshDir("e2e")
    val rawDir = freshDir("e2e_raw")
    Files.createDirectories(Paths.get(rawDir))
    Files.writeString(
      Paths.get(s"$rawDir/glassdoor-job-scrapping02-09-2021-data-engineer-london.csv"),
      PipelineSmoke.RawCsv)
    val clean = Clean.run(spark, rawDir)
    val published = Populate.run(clean, PipelineSmoke.Skills)
    Populate.writeTo(published, new FileKvStore(dir).rowSink("job_id"))

    val rows = published.collect()
    val cols = published.columns
    withServer(dir) { srv =>
      // Scan route: every published job appears, sorted by job name.
      val (lc, listBody) = get(srv.port, "/skills")
      assert(lc == 200)
      val jobs = Populate.listJobs(published).collect()
        .map(r => (r.getString(0), r.getString(1)))
      jobs.foreach { case (id, job) =>
        assert(listBody.contains(s"""{"job_id": "$id", "job": "$job"}"""))
      }
      // Point route: each wide row round-trips field-for-field.
      rows.foreach { row =>
        val id = row.getString(cols.indexOf("job_id"))
        val (c, body) = get(srv.port, s"/skills/$id")
        assert(c == 200)
        cols.zipWithIndex.foreach { case (col, i) =>
          if (!row.isNullAt(i))
            assert(body.contains(s""""$col": "${row.get(i)}""""),
              s"missing $col in $body")
        }
      }
    }
  }

  test("comma-bearing field values round-trip unclipped (r11 advisory)") {
    val dir = freshDir("comma")
    // Job titles originate from scraped CSV — commas (and stray '=')
    // inside a field must survive publish -> GET instead of truncating
    // the parsed row at the first comma.
    new FileKvStore(dir).rowSink("job_id").put(Map(
      "job_id" -> "j1",
      "job" -> "Data Engineer, London (contract)",
      "top_skill_n_1" -> "a=b, c"))
    withServer(dir) { srv =>
      val (code, body) = get(srv.port, "/skills/j1")
      assert(code == 200, body)
      assert(body.contains(""""job": "Data Engineer, London (contract)""""))
      assert(body.contains(""""top_skill_n_1": "a=b, c""""))
      val (lc, listBody) = get(srv.port, "/skills")
      assert(lc == 200)
      assert(listBody.contains(
        """{"job_id": "j1", "job": "Data Engineer, London (contract)"}"""))
    }
  }

  test("absent key is 404, non-GET is 405") {
    val dir = freshDir("errors")
    new FileKvStore(dir).upsert("k1", "job=x")
    withServer(dir) { srv =>
      assert(get(srv.port, "/skills/nope")._1 == 404)
      assert(get(srv.port, "/other")._1 == 404)
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}/skills"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 405)
    }
  }

  test("a publish made after the server started is visible on the next GET") {
    val dir = freshDir("fresh")
    new FileKvStore(dir).rowSink("job_id").put(Map("job_id" -> "j1", "job" -> "v1"))
    withServer(dir) { srv =>
      assert(get(srv.port, "/skills/j1")._2.contains(""""job": "v1""""))
      assert(get(srv.port, "/skills/j2")._1 == 404)
      Thread.sleep(5) // a newer log file, as the next daily publish writes
      val sink = new FileKvStore(dir).rowSink("job_id")
      sink.put(Map("job_id" -> "j1", "job" -> "v2"))
      sink.put(Map("job_id" -> "j2", "job" -> "w1"))
      val (c1, b1) = get(srv.port, "/skills/j1")
      assert(c1 == 200 && b1.contains(""""job": "v2""""), b1)
      val (c2, b2) = get(srv.port, "/skills/j2")
      assert(c2 == 200 && b2.contains(""""job": "w1""""), b2)
      assert(get(srv.port, "/skills")._2.contains(""""job_id": "j2""""))
    }
  }

  test("an unreadable store answers 500 with the reason, then recovers") {
    val dir = freshDir("unreadable")
    new FileKvStore(dir).upsert("k1", "job=x")
    withServer(dir) { srv =>
      assert(get(srv.port, "/skills/k1")._1 == 200)
      // A directory in the log namespace cannot be replayed.
      val bad = new File(dir, "log-0000000000001-dir.tsv")
      assert(bad.mkdir())
      Seq("/skills/k1", "/skills").foreach { path =>
        val (code, body) = get(srv.port, path)
        assert(code == 500, body)
        assert(body.startsWith("""{"error": """") && body.contains("not a regular file"),
          body)
      }
      assert(bad.delete())
      assert(get(srv.port, "/skills/k1")._1 == 200)
    }
  }
}
