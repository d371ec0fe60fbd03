package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._
import graft.pipeline.{WeatherPipeline, WeatherSinks}
import graft.sinks.ParquetSink
import graft.sources.{ForecastJsonSource, HttpFetch, HttpJsonSource}

/** S1 end-to-end against a local HTTP server: executor-side fetch, retry
  * on 5xx, and the full E1 wiring fetch → parse → fullLoad — the piece
  * the reference does with a driver-side `requests.get` (FULL:8-12).
  */
class HttpSourceSpec extends SparkTestBase {

  private val houston =
    """{"list":[
      |{"dt":1700179200,"main":{"temp":300.0,"humidity":70},
      | "wind":{"speed":5.0},"weather":[{"description":"clear sky"}]},
      |{"dt":1700190000,"main":{"temp":290.5,"humidity":55},
      | "wind":{"speed":2.0},"weather":[{"description":"rain"}]}
      |],"city":{"name":"Houston","country":"US",
      | "coord":{"lat":29.76,"lon":-95.36}}}""".stripMargin.replace("\n", "")

  private val austin =
    """{"list":[
      |{"dt":1700179200,"main":{"temp":295.0,"humidity":61},
      | "wind":{"speed":1.0},"weather":[{"description":"mist"}]}
      |],"city":{"name":"Austin","country":"US",
      | "coord":{"lat":30.27,"lon":-97.74}}}""".stripMargin.replace("\n", "")

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  private def withServer[A](f: (HttpServer, String) => A): A = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.start()
    try f(server, s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("fetches per-city urls on executors and parses observations") {
    withServer { (server, base) =>
      server.createContext("/houston", ex => respond(ex, 200, houston))
      server.createContext("/austin", ex => respond(ex, 200, austin))
      val obs = ForecastJsonSource.fromUrls(spark,
        Seq(s"$base/houston", s"$base/austin"))
      assert(obs.count() == 3)
      val cities = obs.select("city").distinct()
        .collect().map(_.getString(0)).toSet
      assert(cities == Set("Houston", "Austin"))
    }
  }

  test("retries 5xx with backoff and succeeds within the budget") {
    withServer { (server, base) =>
      val hits = new AtomicInteger(0)
      server.createContext("/flaky", ex =>
        if (hits.incrementAndGet() <= 2) respond(ex, 500, "boom")
        else respond(ex, 200, austin))
      val body = HttpFetch.get(s"$base/flaky", 1000, 1000,
        maxRetries = 2, backoffMs = 10L)
      assert(body == austin)
      assert(hits.get() == 3)
    }
  }

  test("exhausted retries throw instead of dropping the shard") {
    withServer { (server, base) =>
      server.createContext("/dead", ex => respond(ex, 500, "boom"))
      intercept[java.io.IOException] {
        HttpFetch.get(s"$base/dead", 1000, 1000,
          maxRetries = 1, backoffMs = 10L)
      }
    }
  }

  test("E1 source-to-sink: HTTP fetch -> parse -> fullLoad") {
    withServer { (server, base) =>
      server.createContext("/houston", ex => respond(ex, 200, houston))
      server.createContext("/austin", ex => respond(ex, 200, austin))
      withTempDir("graft-http-e1") { dir =>
        val sinks = WeatherSinks(
          ParquetSink(s"$dir/fact"), ParquetSink(s"$dir/weekly"),
          ParquetSink(s"$dir/humidity"))
        val urls = Seq(s"$base/houston", s"$base/austin")
        val start = lit("2023-11-17 00:00:00").cast("timestamp")
        val end = lit("2023-11-18 00:00:00").cast("timestamp")
        val clock = lit("2023-11-25 12:00:00").cast("timestamp")
        WeatherPipeline.fullLoad(spark,
          ForecastJsonSource.fromUrls(spark, urls), sinks, start, end, clock)
        assert(sinks.fact.read(spark).count() == 3)
        // re-fetch + re-run: the J1 anti-join keeps the fact table deduped
        WeatherPipeline.fullLoad(spark,
          ForecastJsonSource.fromUrls(spark, urls), sinks, start, end, clock)
        assert(sinks.fact.read(spark).count() == 3)
      }
    }
  }

  test("HttpJsonSource distributes urls across partitions") {
    withServer { (server, base) =>
      server.createContext("/houston", ex => respond(ex, 200, houston))
      server.createContext("/austin", ex => respond(ex, 200, austin))
      val df = HttpJsonSource(Seq(s"$base/houston", s"$base/austin")).load(spark)
      assert(df.rdd.getNumPartitions == 2)
      assert(df.count() == 2)
    }
  }
}
