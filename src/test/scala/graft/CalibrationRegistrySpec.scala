package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the query registry and the scale annotations the sweep tool reads.
  * `tools/calibration_only.json` and `tools/data_proportional.json` are the
  * only copy of the annotations (merge_scale_sweep.py reads them to
  * adjudicate >20x scale ratios): every annotated name must be a registered
  * query, a calibration-only pin must name a registered production twin, a
  * data-proportional entry must lead with its per-unit evidence, and the two
  * sets must not overlap. */
class CalibrationRegistrySpec extends AnyFunSuite {

  private lazy val calibrationOnly = annotations("tools/calibration_only.json")
  private lazy val dataProportional = annotations("tools/data_proportional.json")

  test("query spec names are unique and every spec has oracle SQL") {
    val names = SparkEntry.specs.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"names registered twice: ${dups.toSeq.sorted}")
    val blank = SparkEntry.specs.filter(q => q.oracleSql == null || q.oracleSql.trim.isEmpty)
    assert(blank.isEmpty, s"specs without oracle SQL: ${blank.map(_.name).sorted}")
  }

  test("calibration-only entries are registered queries with registered twins") {
    val qs = SparkEntry.queries.keySet
    assert(calibrationOnly.nonEmpty)
    calibrationOnly.foreach { case (name, reason) =>
      assert(qs.contains(name), s"$name not in queries")
      val twin = "production twin (\\w+)".r.findFirstMatchIn(reason)
      assert(twin.isDefined, s"$name reason must name its production twin")
      assert(qs.contains(twin.get.group(1)),
        s"$name's twin ${twin.get.group(1)} not in queries")
    }
  }

  test("data-proportional entries are registered queries with per-unit evidence") {
    val qs = SparkEntry.queries.keySet
    assert(dataProportional.nonEmpty)
    dataProportional.foreach { case (name, reason) =>
      assert(qs.contains(name), s"$name not in queries")
      assert(reason.startsWith("per-unit metric: "),
        s"$name must lead with its measured per-unit evidence")
      assert(!calibrationOnly.contains(name),
        s"$name cannot be both calibration-only and data-proportional")
    }
  }

  /** Parse a flat single-level JSON object with no escaped quotes. */
  private def annotations(path: String): Map[String, String] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }
}
