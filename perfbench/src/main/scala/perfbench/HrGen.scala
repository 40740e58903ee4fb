package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import graft.etl.HrSchemas

/** Seeded generator of the five raw HR CSVs the paper's pipeline reads.
  *
  * Columns come from [[HrSchemas]] in order. The row mix is the reference
  * data's (departments 5, employees 25, projects 8, reviews 20,
  * assignments 24) times `scale`, and the dirty cases the cleaners and
  * data-quality checks exist for are planted at fixed counts per scale
  * unit: the departments header says `name` instead of `department_name`,
  * integer foreign keys are null or point at no parent, ratings and
  * allocations fall out of range, (employee, date) reviews repeat, and
  * `status` takes values outside its enum.
  *
  * [[expected]] replays the cleaning and check rules on the generated rows
  * in plain Scala, so the benchmark can compare every check's violation
  * count and every sink's row count against an oracle that shares no code
  * with the library.
  */
object HrGen {

  case class Emp(id: Long, name: String, dept: Option[Long], salary: Option[Double],
                 hire: Option[LocalDate], manager: Option[Long], bonus: String,
                 status: String)
  case class Dept(id: Long, name: String, location: String, budget: Double,
                  manager: Option[Long])
  case class Review(id: Long, emp: Option[Long], date: Option[LocalDate],
                    rating: Option[Double], reviewer: Long)
  case class Project(id: Long, name: Option[String], dept: Long,
                     start: Option[LocalDate], end: Option[LocalDate],
                     budget: Option[Double], status: String)
  case class Assign(id: Long, emp: Long, project: Long, role: String,
                    alloc: Option[Double], start: LocalDate, end: Option[LocalDate])

  case class Data(depts: Seq[Dept], emps: Seq[Emp], reviews: Seq[Review],
                  projects: Seq[Project], assigns: Seq[Assign]) {
    def rows: Long =
      (depts.size + emps.size + reviews.size + projects.size + assigns.size).toLong
  }

  /** What the pipeline must produce: violations per (table, check, detail)
    * and rows per sink table. */
  case class Expected(checks: Map[(String, String, String), Long],
                      sinkRows: Map[String, Long])

  private val statuses = Seq("active", "active", "active", "terminated", "leave", "inactive")
  private val badStatuses = Seq("on_vacation", "ACTIVE", "retired?")
  private val locations = Seq("New York", "Austin", "Chicago", "Denver", "Boston")
  private val roles = Seq("Developer", "Analyst", "Lead", "Tester", "Designer")
  private val day0 = LocalDate.of(2015, 1, 1)

  def generate(seed: Long, scale: Int): Data = {
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val r = new SplittableRandom(seed)
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))
    def day(from: LocalDate, span: Int): LocalDate = from.plusDays(r.nextInt(span).toLong)
    def money(lo: Int, hi: Int): Double = (lo + r.nextInt(hi - lo)) * 100.0

    val nDept = 5 * scale
    val nEmp = 25 * scale
    val nProj = 8 * scale
    val nRev = 20 * scale
    val nAsg = 24 * scale

    // Planted cases, each on its own rows so their effects stay separate.
    // Counts are per scale unit.
    val dupDepts = 1 * scale // exact duplicate department rows
    val depts0 = (1L to nDept).map(id => Dept(id, s"dept ${id}_${r.nextInt(1000)}",
      pick(locations), money(1000, 9000), if (r.nextInt(4) == 0) None else Some(id)))
    val depts = depts0 ++ (0 until dupDepts).map(i => depts0(i * 5 % depts0.size))

    val emps = (1L to nEmp).map { id =>
      val slot = id % 25
      val dept: Option[Long] =
        if (slot == 1) None // null integer FK
        else if (slot == 2) Some(nDept + 1000 + id) // orphan FK
        else Some(1L + r.nextInt(nDept))
      val status =
        if (slot == 3) pick(badStatuses) // outside the enum
        else if (slot == 4) "inactive"
        else pick(statuses)
      val salary: Option[Double] =
        if (slot == 5) None
        else if (slot == 6) Some(0.0) // dropped by the cleaner
        else if (slot == 7) Some(-500.0) // active with non-positive salary
        else Some(money(300, 1500))
      Emp(id, if (slot == 8) "" else s"Employee $id",
        dept, salary, if (slot == 9) None else Some(day(day0, 3650)),
        if (slot == 10) None else Some(1L + r.nextInt(nEmp)),
        if (r.nextBoolean()) "Y" else "N",
        if (slot == 7) "active" else status)
    }

    val projects = (1L to nProj).map { id =>
      val slot = id % 8
      val start = day(day0.plusYears(5), 1500)
      Project(id,
        if (slot == 1) None else Some(s"Project $id"),
        1L + r.nextInt(nDept),
        if (slot == 1) None else Some(start),
        if (slot == 1 || slot == 2) None
        else if (slot == 3) Some(start.minusDays(10)) // ends before it starts
        else Some(start.plusDays(30L + r.nextInt(700))),
        if (slot == 4) None else if (slot == 5) Some(-1.0) else Some(money(500, 5000)),
        if (slot == 2) "in_progress" else "completed")
    }

    val reviews = {
      val base = (1L to nRev).map { id =>
        val slot = id % 20
        Review(id,
          if (slot == 1) None // null integer FK
          else if (slot == 2) Some(nEmp + 5000 + id) // orphan FK
          else Some(1L + r.nextInt(nEmp)),
          if (slot == 3) None else Some(day(day0.plusYears(6), 1800)),
          if (slot == 4) Some(7.5) else if (slot == 5) Some(0.0) // out of range
          else Some((2 + r.nextInt(7)) * 0.5),
          1L + r.nextInt(nEmp))
      }
      // duplicate (employee, date) reviews: a later id repeating an
      // earlier review's key; keep-first must drop it
      val dups = base.filter(rv => rv.id % 20 == 6).map(rv =>
        rv.copy(id = nRev + rv.id, rating = Some(1.0)))
      base ++ dups
    }

    val assigns = (1L to nAsg).map { id =>
      val slot = id % 24
      val start = day(day0.plusYears(5), 1500)
      Assign(id,
        if (slot == 1) nEmp + 7000 + id else 1L + r.nextInt(nEmp), // orphan FK
        if (slot == 2) nProj + 9000 + id else 1L + r.nextInt(nProj), // orphan FK
        pick(roles),
        if (slot == 3) Some(150.0) else if (slot == 4) Some(-20.0) // out of range
        else Some(5.0 * (1 + r.nextInt(20))),
        start,
        if (slot == 5) None else Some(start.plusDays(r.nextInt(400).toLong)))
    }
    Data(depts, emps, reviews, projects, assigns)
  }

  private def cell(v: Option[Any]): String = v.map(_.toString).getOrElse("")

  /** The five CSV files, by table name, as the exact bytes written. */
  def csvFiles(d: Data): Seq[(String, Array[Byte])] = {
    def file(table: String, header: Seq[String], rows: Seq[Seq[String]]) = {
      val sb = new StringBuilder
      sb.append(header.mkString(",")).append('\n')
      rows.foreach(row => sb.append(row.mkString(",")).append('\n'))
      table -> sb.toString.getBytes(StandardCharsets.UTF_8)
    }
    def cols(table: String) = HrSchemas.all(table).fieldNames.toSeq
    Seq(
      // header drift: the departments file names its column `name`
      file("departments", cols("departments").map(c =>
          if (c == "department_name") "name" else c),
        d.depts.map(x => Seq(x.id.toString, x.name, x.location, x.budget.toString,
          cell(x.manager)))),
      file("employees", cols("employees"), d.emps.map(x => Seq(x.id.toString,
        x.name, cell(x.dept), cell(x.salary), cell(x.hire), cell(x.manager),
        x.bonus, x.status))),
      file("performance_reviews", cols("performance_reviews"), d.reviews.map(x =>
        Seq(x.id.toString, cell(x.emp), cell(x.date), cell(x.rating),
          x.reviewer.toString))),
      file("projects", cols("projects"), d.projects.map(x => Seq(x.id.toString,
        cell(x.name), x.dept.toString, cell(x.start), cell(x.end), cell(x.budget),
        x.status))),
      file("project_assignments", cols("project_assignments"), d.assigns.map(x =>
        Seq(x.id.toString, x.emp.toString, x.project.toString, x.role,
          cell(x.alloc), x.start.toString, cell(x.end)))))
  }

  def write(d: Data, dir: Path): Long = {
    Files.createDirectories(dir)
    csvFiles(d).map { case (t, bytes) =>
      Files.write(dir.resolve(s"$t.csv"), bytes)
      bytes.length.toLong
    }.sum
  }

  /** The cleaning rules and data-quality checks of the pipeline, replayed
    * on the generated rows. */
  def expected(d: Data): Expected = {
    val emps = d.emps.filter(e => e.status != "inactive" && !e.salary.contains(0.0))
    val empIds = emps.map(_.id).toSet
    val deptIds = d.depts.map(_.id).toSet
    // keep-first per (employee, date), then the rating range filter
    val reviews = d.reviews.groupBy(rv => (rv.emp, rv.date)).values
      .map(_.minBy(_.id)).toSeq
      .filter(_.rating.exists(x => x >= 1.0 && x <= 5.0))
    val projects = d.projects.filter(p => p.budget.exists(_ > 0) &&
      (p.end.isEmpty || p.start.exists(s => !p.end.get.isBefore(s))))
    val projIds = projects.map(_.id).toSet
    val assigns = d.assigns.filter(a => a.alloc.exists(_ <= 100) &&
      a.end.forall(e => !e.isBefore(a.start)))
    def orphans(fks: Seq[Option[Long]], parent: Set[Long]): Long =
      fks.flatten.filter(_ != -1L).distinct.count(k => !parent(k)).toLong
    val enum = Set("active", "inactive", "terminated", "leave")
    val checks = Map(
      ("employees", "null_pk", "employee_id") -> 0L,
      ("employees", "duplicate_pk", "employee_id") -> 0L,
      ("employees", "null_required", "name") -> emps.count(_.name.isEmpty).toLong,
      ("employees", "null_required", "salary") -> emps.count(_.salary.isEmpty).toLong,
      ("employees", "null_required", "hire_date") -> emps.count(_.hire.isEmpty).toLong,
      ("employees", "fk_consistency", "department_id->department_id") ->
        orphans(emps.map(_.dept), deptIds),
      ("employees", "accuracy", "status_enum") -> emps.count(e => !enum(e.status)).toLong,
      ("employees", "accuracy", "active_salary_positive") ->
        emps.count(e => e.status == "active" && e.salary.exists(_ <= 0)).toLong,
      ("performance_reviews", "null_pk", "review_id") -> 0L,
      ("performance_reviews", "duplicate_pk", "review_id") -> 0L,
      ("performance_reviews", "null_required", "employee_id") ->
        reviews.count(_.emp.isEmpty).toLong,
      ("performance_reviews", "null_required", "rating") -> 0L,
      ("performance_reviews", "null_required", "review_date") ->
        reviews.count(_.date.isEmpty).toLong,
      ("performance_reviews", "fk_consistency", "employee_id->employee_id") ->
        orphans(reviews.map(_.emp), empIds),
      ("performance_reviews", "accuracy", "rating_range") -> 0L,
      ("project_assignments", "fk_consistency", "project_id->project_id") ->
        orphans(assigns.map(a => Some(a.project)), projIds),
      ("project_assignments", "fk_consistency", "employee_id->employee_id") ->
        orphans(assigns.map(a => Some(a.emp)), empIds),
      ("project_assignments", "accuracy", "allocation_range") ->
        assigns.count(_.alloc.exists(_ < 0)).toLong,
      ("projects", "null_pk", "project_id") -> 0L,
      ("projects", "duplicate_pk", "project_id") -> 0L,
      ("projects", "null_required", "project_name") -> projects.count(_.name.isEmpty).toLong,
      ("projects", "null_required", "start_date") -> projects.count(_.start.isEmpty).toLong,
      ("projects", "accuracy", "budget_null_or_positive") -> 0L)
    val nDeptRows = d.depts.distinct.size.toLong
    val sinkRows = Map(
      "dim_departments" -> nDeptRows,
      "dim_employees" -> emps.size.toLong,
      "fact_performance_reviews" -> reviews.size.toLong,
      "fact_project_assignments" -> assigns.size.toLong,
      "summary_dept_metrics" -> nDeptRows,
      "summary_emp_performance" -> emps.size.toLong)
    Expected(checks, sinkRows)
  }
}
