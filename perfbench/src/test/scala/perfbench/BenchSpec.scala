package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("percentiles interpolate between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
    assert(Stats.percentile((1 to 11).map(_.toDouble), 90) === 10.0)
    assert(Stats.percentile(Seq(5.0), 90) === 5.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("a percentile is reported only with ten samples beyond it") {
    assert(Stats.reportablePercentile(100) === Some(90.0))
    assert(Stats.reportablePercentile(200) === Some(95.0))
    assert(Stats.reportablePercentile(1000) === Some(99.0))
    assert(Stats.reportablePercentile(20) === Some(50.0))
    assert(Stats.reportablePercentile(19) === None)
  }

  test("union length merges overlapping and nested intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (22L, 25L))) === 25L)
    assert(Stats.unionLength(Seq((3L, 3L), (4L, 2L))) === 0L)
    assert(Stats.unionLength(Nil) === 0L)
  }

  test("self time subtracts the part of a span its children cover") {
    val spans = Seq(
      Span(1, 0, "bench", "timed", 0, 100),
      Span(2, 1, "fhir", "a", 10, 30),
      Span(3, 1, "fhir", "b", 20, 50), // overlaps its sibling
      Span(4, 1, "ops", "c", 60, 70),
      Span(5, 4, "streaming", "d", 65, 80)) // runs past its parent
    val self = Tracer.selfTimes(spans)
    assert(self("bench") === 100 - 40 - 10)
    assert(self("fhir") === 20 + 30)
    assert(self("ops") === 10 - 5)
    assert(self("streaming") === 15)
  }

  test("metric names and units are valid and match BENCHMARK.json") {
    val all = Main.EndToEnd ++ Layers.Names
    all.foreach { case (n, u) =>
      assert(Stats.validName(n), n); assert(Stats.validUnit(u), u)
    }
    assert(all.map(_._1).distinct.size === all.size)
    assert(!Stats.validName("_x") && !Stats.validName("a b") && !Stats.validName("x" * 65))
    val spec = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
    def list(key: String) = spec.get(key).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(list("end_to_end") === Main.EndToEnd)
    assert(list("per_layer") === Layers.Names)
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
      .forall(w => scala.util.Try(Main.workload(w)).isSuccess))
  }

  test("the plain closure of a small DAG") {
    // 0 -> 1 -> 3, 0 -> 2 -> 3 (3 has two parents), 3 -> 4
    val d = Gen.Dag(Vector("a", "b", "c", "d", "e"), Vector(0, 1, 1, 2, 3),
      Vector(Nil, Seq(0), Seq(0), Seq(1, 2), Seq(3)))
    assert(d.ancestors === Vector(Set(), Set(0), Set(0), Set(0, 1, 2), Set(0, 1, 2, 3)))
    assert(d.pairCount === 9)
    assert(d.descendants(1) === Set(3, 4))
  }

  test("generated DAGs reach level 16 and have multi-parent codes") {
    val d = Gen.dag(new Gen.Rng(3), 1200)
    assert(d.level.max === 16)
    assert(math.abs(d.codes.size - 1200) <= 24)
    assert(d.parents.count(_.size > 1) > 0)
    assert(d.parents.indices.forall(c => d.parents(c).forall(p => d.level(p) < d.level(c))))
  }

  test("the same seed generates byte-identical inputs; another seed does not") {
    def gen(w: Workload, seed: Long): String = {
      val dir = Files.createTempDirectory("perfbench-gen")
      try w.generate(new Ctx(null, null, dir, seed), dir)
      finally Main.deleteTree(dir)
    }
    Seq(() => new CohortQuery, () => new AnnIndexStream).foreach { mk =>
      val a = gen(mk(), 11)
      assert(gen(mk(), 11) === a)
      assert(gen(mk(), 12) !== a)
    }
  }

  test("stratified Zipf draws have a fixed composition") {
    val z = new Gen.Zipf(8, 1.0)
    val c = z.stratified(20)
    assert(c.sum === 20)
    assert(c.toSeq === c.toSeq.sorted.reverse)
    assert(z.stratified(20).toSeq === c.toSeq)
  }
}
