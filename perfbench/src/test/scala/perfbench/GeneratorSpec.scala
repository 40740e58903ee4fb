package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  private def hrBytes(seed: Long) =
    HrGen.csvFiles(HrGen.generate(seed, 4)).map { case (t, b) => t -> b.toSeq }

  test("the HR generator is a function of its seed") {
    assert(hrBytes(7) == hrBytes(7))
    assert(hrBytes(7) != hrBytes(8))
  }

  test("the corpus generator is a function of its seed") {
    def bytes(seed: Long) = CorpusGen.bytes(CorpusGen.generate(seed, 50)).toSeq
    assert(bytes(7) == bytes(7))
    assert(bytes(7) != bytes(8))
  }

  test("the store generator is a function of its seed") {
    def cycle(seed: Long) = StoreGen.generate(seed, 100, 5, 12, 10)
    assert(cycle(7) == cycle(7))
    assert(cycle(7) != cycle(8))
  }

  test("every planted HR case reaches the checks or the sinks") {
    val d = HrGen.generate(3, 4)
    val e = HrGen.expected(d)
    // departments are re-read under a drifted header
    assert(new String(HrGen.csvFiles(d).toMap.apply("departments"), "UTF-8")
      .startsWith("department_id,name,"))
    for (check <- Seq(
        ("employees", "null_required", "name"),
        ("employees", "null_required", "salary"),
        ("employees", "fk_consistency", "department_id->department_id"),
        ("employees", "accuracy", "status_enum"),
        ("employees", "accuracy", "active_salary_positive"),
        ("performance_reviews", "null_required", "employee_id"),
        ("performance_reviews", "fk_consistency", "employee_id->employee_id"),
        ("project_assignments", "fk_consistency", "project_id->project_id"),
        ("project_assignments", "fk_consistency", "employee_id->employee_id"),
        ("project_assignments", "accuracy", "allocation_range"),
        ("projects", "null_required", "project_name")))
      assert(e.checks(check) > 0, check)
    // duplicate reviews and out-of-range ratings never reach the fact table
    assert(e.sinkRows("fact_performance_reviews") < d.reviews.size)
    assert(e.sinkRows("fact_project_assignments") < d.assigns.size)
    assert(e.sinkRows("dim_departments") < d.depts.size)
    assert(e.sinkRows("dim_employees") < d.emps.size)
  }

  test("the corpus plants disjoint duplicate sets at fixed shares") {
    val c = CorpusGen.generate(5, 200)
    assert(c.planted.exact.size == 20 && c.planted.near.size == 20 &&
      c.planted.substring.size == 20)
    val originals = (c.planted.exact ++ c.planted.near ++ c.planted.substring).map(_._1)
    assert(originals.distinct.size == originals.size)
    assert(c.docs.map(_.id) == (0L until 260L))
    def norm(s: String) = s.trim.toLowerCase.split("\\s+").mkString(" ")
    val text = c.docs.map(d => d.id -> d.text).toMap
    c.planted.exact.foreach { case (a, b) => assert(norm(text(a)) == norm(text(b))) }
    c.planted.near.foreach { case (a, b) => assert(norm(text(a)) != norm(text(b))) }
    assert(c.docs.map(d => norm(d.text)).distinct.size == 260 - 20)
  }

  test("store increments repeat stored ids and the retraction hits few partitions") {
    val c = StoreGen.generate(9, 100, 5, 12, 10)
    c.increments.foreach(inc => assert(inc.map(_.id).distinct.size == inc.size))
    assert(c.live.size == 100 + 5 * (12 - StoreGen.Repeats) - c.retract.size)
    assert(c.retract.map(StoreGen.partitionOf).distinct.size <= StoreGen.RetractParts)
  }
}
