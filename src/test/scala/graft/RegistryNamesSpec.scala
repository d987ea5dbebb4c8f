package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every hard-coded query list outside the registry names registered
  * queries. `Bench` drops headline names it did not time and the stress
  * lists filter on the selection, so a name left behind by a deleted row
  * would otherwise vanish from every artifact without a word. */
class RegistryNamesSpec extends AnyFunSuite {
  private def unknown(names: Iterable[String]): Seq[String] =
    names.filterNot(SparkEntry.queries.contains).toSeq.sorted

  test("every Bench headline name is a registered query") {
    assert(unknown(Bench.headline).isEmpty)
  }

  test("every reader of a Bench.setup artifact is a registered query") {
    val bad = Bench.artifacts.flatMap(a => unknown(a.readers).map(a.what + ": " + _))
    assert(bad.isEmpty)
    assert(Bench.artifacts.forall(_.readers.nonEmpty),
      "an artifact no row reads is built for nothing")
  }

  test("every ScaleStress default list names registered queries") {
    assert(unknown(ScaleStress.DefaultQueries).isEmpty)
    assert(unknown(ScaleStress.Rep2Queries).isEmpty)
    assert(unknown(ScaleStress.Rep3Queries).isEmpty)
    assert(unknown(ScaleStress.SkewQueries).isEmpty)
    // the extra axes run only what the default selection holds
    val extra = ScaleStress.Rep2Queries ++ ScaleStress.Rep3Queries ++ ScaleStress.SkewQueries
    assert(extra.filterNot(ScaleStress.DefaultQueries.contains).isEmpty)
  }
}
