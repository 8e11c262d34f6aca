package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Smoke test of the benchmark itself: every workload runs a few tiny ops
  * in both modes and prints each named metric with its unit; the metric
  * lists agree with BENCHMARK.json; and a corrupted recorded fingerprint
  * trips the correctness gate. Run from `perfbench/` with `sbt test`.
  */
class SmokeSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  /** The checkout root: the nearest ancestor holding perfbench/build.sbt. */
  private val root: Path = {
    var p = Paths.get("").toAbsolutePath
    while (p != null && !Files.exists(p.resolve("perfbench/build.sbt"))) p = p.getParent
    require(p != null, "run from inside a checkout")
    p
  }
  private val scratch = root.resolve(".bench_run/smoke")

  private def run(workload: String, trace: Boolean, expected: Path =
      root.resolve("perfbench/expected/serve.tsv")): (Int, JsonNode) = {
    val dir = scratch.resolve(s"$workload-$trace")
    graft.FsUtil.deleteRecursively(dir)
    val out = dir.resolve("result.json")
    val code = Main.run(Config(workload = workload, seed = 7L, seconds = 1.0, trace = trace,
      cores = 2, tiny = true, expected = expected.toString,
      runDir = dir.resolve("run").toString, out = out.toString))
    val json = mapper.readTree(out.toFile)
    graft.FsUtil.deleteRecursively(dir)
    (code, json)
  }

  private def assertPrinted(json: JsonNode, name: String, unit: String, hint: String): Unit = {
    val line = json.get("table").elements().asScala.map(_.asText()).find(_.contains(s" $name "))
    assert(line.exists(_.trim.endsWith(s" $unit")), s"$hint: printed line for $name")
  }

  private def assertMetrics(json: JsonNode, want: Seq[(String, String)], hint: String): Unit = {
    val m = json.get("metrics")
    assert(m.fieldNames().asScala.toSet == want.map(_._1).toSet, s"$hint: metric names")
    want.foreach { case (name, unit) =>
      assert(m.get(name).get("unit").asText() == unit, s"$hint: unit of $name")
      assert(m.get(name).get("value").isNumber, s"$hint: value of $name")
      assertPrinted(json, name, unit, hint)
    }
    assert(json.get("attempted").asInt() >= 1, s"$hint: attempted")
  }

  test("BENCHMARK.json names the metrics the benchmark prints, with their units") {
    val b = mapper.readTree(root.resolve("BENCHMARK.json").toFile)
    def pairs(key: String) = b.get(key).elements().asScala
      .map(n => n.get("name").asText() -> n.get("unit").asText()).toSeq
    assert(pairs("end_to_end") == Main.EndToEnd)
    assert(pairs("per_layer") == Main.PerLayer)
    val names = b.get("workloads").elements().asScala.map(_.get("name").asText()).toSet
    assert(names.subsetOf(Set("ingest", "serve", "maintain")))
  }

  for (w <- Seq("ingest", "serve", "maintain"); trace <- Seq(false, true)) {
    test(s"$w (trace=$trace) runs tiny, passes its gate and prints every metric") {
      val (code, json) = run(w, trace)
      assert(json.get("problems").size() == 0, json.get("problems").toString)
      assert(code == 0 && json.get("correct").asBoolean())
      assertMetrics(json, if (trace) Main.PerLayer else Main.EndToEnd, s"$w trace=$trace")
      if (trace) Main.ReportOnly.foreach { case (n, u) => assertPrinted(json, n, u, s"$w trace=$trace") }
    }
  }

  test("a corrupted recorded fingerprint trips the serve correctness gate") {
    val good = root.resolve("perfbench/expected/serve.tsv")
    val lines = Files.readAllLines(good).asScala.toSeq
    val i = lines.indexWhere(l => !l.startsWith("#") && l.nonEmpty)
    val cols = lines(i).split("\t")
    val bad = lines.updated(i, (cols.init :+ (BigInt(cols.last) + 1).toString).mkString("\t"))
    Files.createDirectories(scratch)
    val corrupted = scratch.resolve("serve-corrupted.tsv")
    Files.write(corrupted, bad.asJava)
    val (code, json) = run("serve", trace = false, expected = corrupted)
    Files.delete(corrupted)
    assert(code == 3)
    assert(!json.get("correct").asBoolean())
    assert(json.get("problems").elements().asScala.exists(_.asText().contains(cols.head)))
  }
}
