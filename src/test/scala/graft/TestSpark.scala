package graft

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Shared local SparkSession + in-memory fixture catalog for the golden
  * corpus (tables referenced by /root/reference/book/tests/prql (recursive)). */
object TestSpark {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // mirror Graft.localSession: kernels injected at session build
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // mirror Graft.localSession: the whole suite must run under the same
      // analyzer mode the driver mains use (single-pass where eligible)
      .config("spark.sql.analyzer.singlePassResolver.enabledTentatively", "true")
      .config("spark.sql.analyzer.singlePassResolver.validationEnabled", "false")
      // managed-table writes (SinksSpec bucketed tables) land in /tmp, not
      // the repo working dir
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Broadcast off gives `PipelineOps.labelPropagate` a driver bound of 0,
    * so `body` runs the label loop (and its star-contraction escalation)
    * whatever the dup graph's size. */
  def onLabelLoop[T](body: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(graft.pipeline.PipelineOps.driverEdgeBound(spark) == 0)
      body
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  private def d(s: String) = java.sql.Date.valueOf(s)
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def df(schema: (String, DataType)*)(rows: Seq[Any]*): DataFrame = {
    val st = StructType(schema.map { case (n, t) => StructField(n, t, nullable = true) })
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r: _*)): _*), st)
  }

  /** One fixture per table named in the book corpus; columns are the union
    * of what the queries touch. */
  lazy val fixtures: Map[String, DataFrame] = Map(
    "employees" -> df(
      "emp_no" -> LongType, "id" -> LongType, "first_name" -> StringType,
      "last_name" -> StringType, "name" -> StringType, "gender" -> StringType,
      "salary" -> DoubleType, "payroll_tax" -> DoubleType,
      "benefits_cost" -> DoubleType, "tax" -> DoubleType,
      "country" -> StringType, "title" -> StringType, "role" -> StringType,
      "department" -> StringType, "dept_no" -> StringType,
      "age" -> LongType, "tenure" -> DoubleType, "dob" -> DateType,
      "start_date" -> DateType, "join_date" -> DateType,
      "employee_id" -> LongType, "month" -> LongType, "paycheck" -> DoubleType)(
      Seq(1L, 1L, "Ada", "Lovelace", "Ada L", "F", 1000.0, 100.0, 50.0, null,
        "USA", "Eng", "dev", "R&D", "d1", 36L, 5.0, d("1986-01-02"),
        d("2021-02-03"), d("2021-02-03"), 1L, 1L, 100.0),
      Seq(2L, 2L, null, "Turing", "Alan T", "M", 2000.0, 200.0, 60.0, 10.0,
        "UK", "Eng", "dev", "R&D", "d1", 40L, 2.0, d("1982-03-04"),
        d("2020-05-06"), d("2020-05-06"), 2L, 1L, 200.0),
      Seq(3L, 3L, "Grace", null, "Grace H", "F", 3000.0, 300.0, 70.0, 20.0,
        "USA", "Ops", "ops", "Mfg", "d2", 47L, 9.0, d("1975-07-08"),
        d("2022-09-10"), d("2022-09-10"), 3L, 2L, 300.0)),
    "salaries" -> df(
      "emp_no" -> LongType, "salary" -> DoubleType, "country" -> StringType,
      "from_date" -> DateType, "to_date" -> DateType)(
      Seq(1L, 1000.0, "USA", d("2021-01-01"), d("2022-01-01")),
      Seq(2L, 2000.0, "UK", d("2021-01-01"), d("2022-01-01")),
      Seq(3L, 3000.0, "USA", d("2021-01-01"), d("2022-01-01"))),
    "titles" -> df("emp_no" -> LongType, "title" -> StringType)(
      Seq(1L, "Engineer"), Seq(2L, "Engineer"), Seq(3L, "Manager")),
    "dept_emp" -> df(
      "emp_no" -> LongType, "dept_no" -> StringType,
      "from_date" -> DateType, "to_date" -> DateType)(
      Seq(1L, "d1", d("2021-01-01"), d("2022-01-01")),
      Seq(2L, "d1", d("2021-01-01"), d("2022-01-01")),
      Seq(3L, "d2", d("2021-01-01"), d("2022-01-01"))),
    "dept_manager" -> df(
      "emp_no" -> LongType, "dept_no" -> StringType,
      "from_date" -> DateType, "to_date" -> DateType)(
      Seq(3L, "d1", d("2021-01-01"), d("2022-01-01"))),
    "departments" -> df("dept_no" -> StringType, "dept_name" -> StringType)(
      Seq("d1", "R&D"), Seq("d2", "Mfg")),
    "department" -> df("dept_no" -> StringType, "name" -> StringType)(
      Seq("d1", "R&D"), Seq("d2", "Mfg")),
    "positions" -> df(
      "employee_id" -> LongType, "emp_no" -> LongType, "pos" -> StringType)(
      Seq(1L, 1L, "IC"), Seq(2L, 2L, "IC"), Seq(3L, 3L, "MGR")),
    "web" -> df("tls" -> StringType, "domain" -> StringType,
      "tld" -> StringType, "page" -> StringType)(
      Seq("s", "example", "com", "home")),
    "events" -> df("date" -> DateType, "magnitude" -> LongType)(
      Seq(d("1776-08-01"), 60L), Seq(d("1800-01-01"), 10L)),
    "orders" -> df(
      "amount" -> DoubleType, "order_time" -> TimestampType,
      "value" -> DoubleType, "date" -> DateType, "day" -> LongType,
      "order_month" -> LongType, "id" -> LongType)(
      Seq(10.0, ts("2022-01-01 07:00:00"), 5.0, d("2022-01-01"), 1L, 1L, 1L),
      Seq(null, ts("2022-01-02 09:00:00"), 6.0, d("2022-01-02"), 2L, 1L, 2L),
      Seq(30.0, ts("2022-02-01 10:00:00"), 7.0, d("2022-02-01"), 3L, 2L, 3L)),
    "projects" -> df("start" -> DateType)(Seq(d("2022-01-01"))),
    "cities" -> df("temp_f" -> DoubleType)(Seq(32.0), Seq(212.0)),
    "students" -> df("sat_score" -> DoubleType)(Seq(800.0), Seq(1600.0)),
    "kettles" -> df("temp_c" -> DoubleType)(Seq(100.0)),
    // note Seq[Any]: without it Scala widens (Double, Long) rows to Seq[Double]
    "club_ratings" -> df("rating" -> DoubleType, "year" -> LongType)(
      Seq[Any](3.0, 2020L), Seq[Any](4.0, 2020L), Seq[Any](null, 2021L),
      Seq[Any](5.0, 2021L)),
    "mytable" -> df("id" -> LongType)(Seq(1L)),
    "another_table" -> df("x" -> LongType)(Seq(1L)),
    "seq_1_to_5" -> df("x" -> LongType)(Seq(1L), Seq(2L)),
    "prospect_lists_prospects" -> df(
      "prospect_list_id" -> StringType, "related_id" -> StringType)(
      Seq("cc675eee-8bd1-237f-be5e-622ba511d65e", "a1")),
    "accounts" -> df("id" -> StringType)(Seq("a1")),
    "email_addr_bean_rel" -> df("bean_id" -> StringType,
      "primary_address" -> StringType, "email_address_id" -> StringType)(
      Seq("a1", "1", "e1")),
    "email_addresses" -> df("id" -> StringType, "email_address" -> StringType)(
      Seq("e1", "jo.doe@example.com")),
    "project-foo.dataset.table" -> df(
      "col_bax" -> LongType, "a" -> LongType)(Seq(1L, 1L)),
    "project-bar.dataset.table" -> df(
      "col_bax" -> LongType, "b" -> LongType)(Seq(1L, 2L)),
  )

  def catalog: String => DataFrame = catalogWith(Map.empty)

  /** Catalog with per-test table overrides (some book examples imply a
    * different `employees` schema than others). */
  def catalogWith(overrides: Map[String, DataFrame]): String => DataFrame =
    name => overrides.getOrElse(name, fixtures.getOrElse(name,
      throw new IllegalArgumentException(s"no fixture for table '$name'")))

  def compile(prql: String): DataFrame = Graft.compile(prql, spark, catalog)

  def compileWith(prql: String, overrides: Map[String, DataFrame]): DataFrame =
    Graft.compile(prql, spark, catalogWith(overrides))
}
