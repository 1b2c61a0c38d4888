package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The query registry and the artifact store each hold one declaration
  * per key: a second declaration of a name or tag fails construction. */
class RegistrySpec extends AnyFunSuite {

  private val unbuilt: (SparkSession, String) => DataFrame =
    (_, _) => sys.error("a declaration is never built at construction")

  test("a query name declared twice fails construction, naming it") {
    val e = intercept[IllegalArgumentException](new Registry(Seq(
      Query("q1_a", unbuilt, None),
      Query("q2_b", unbuilt, Some("SELECT 1"), gate = true),
      Query("q1_a", unbuilt, Some("SELECT 2")))))
    assert(e.getMessage.contains("duplicate query name: q1_a"))
  }

  test("an artifact tag declared twice fails construction, naming it") {
    val twin = Artifact.frame("twin")(unbuilt)
    val e = intercept[IllegalArgumentException](new ArtifactStore(Seq(
      twin, Artifact.frame("other")(unbuilt), Artifact.frame("twin")(unbuilt))))
    assert(e.getMessage.contains("duplicate artifact tag: twin"))
  }

  test("the declared inventory: 198 queries, the documented six without an oracle") {
    val r = Registry.all
    assert(r.builds.size === 198)
    assert((r.builds.keySet -- r.oracles.keySet) === Set("q33_ann_lsh",
      "q35_cosine_neardup", "q36_ann_ivf", "q48_uv_approx",
      "q54_ann_lsh_multi", "q58_ann_ivf_trained"))
    assert(r.gates.subsetOf(r.builds.keySet) && r.gates.size === 24)
    assert(Artifacts.store != null) // the declared tags are unique
  }
}
