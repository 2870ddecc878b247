package perfbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

class CatalogSpec extends AnyFunSuite {
  private val all = Catalog.endToEnd ++ Catalog.perLayer

  test("metric names and units are valid and unique") {
    all.foreach { m =>
      assert(m.name.matches(Catalog.NameRe), m.name)
      assert(m.unit.matches(Catalog.UnitRe), m.unit)
      assert(Set("lower", "higher")(m.better), m.better)
    }
    assert(all.map(_.name).distinct.size == all.size)
    assert(Catalog.perLayer.size <= 128)
  }

  test("per-layer names read <span>.<field>") {
    Catalog.perLayer.foreach(m => assert(m.name.split('.').length >= 2, m.name))
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark prints") {
    implicit val formats: Formats = DefaultFormats
    val spec = parse(Files.readString(Paths.get("../BENCHMARK.json")))
    def listed(key: String) = (spec \ key).extract[List[Map[String, Any]]]
      .map(m => (m("name"), m("unit"), m("better")))
    assert(listed("end_to_end") == Catalog.endToEnd.map(m => (m.name, m.unit, m.better)))
    assert(listed("per_layer") == Catalog.perLayer.map(m => (m.name, m.unit, m.better)))
  }
}
