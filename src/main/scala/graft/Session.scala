package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.plans.GraftExtensions

/** The library's one session factory and its one function installer.
  *
  * [[get]] is the only place that builds a session: every main and every
  * spec shares its conf set, so an oracle run, a bench run and a test all
  * execute under the same posture. [[install]] and the content-tagged
  * `bind` helpers are the only places that register a function, and they
  * never replace one: a name already in the registry is left as it is. */
object Session {

  /** Local cores for the default master: `SPARK_GRAFT_CPUS`, else every
    * processor of the machine. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private val Extension = classOf[GraftExtensions].getName

  /** The default session if one exists, else a new one on `master`. Either
    * way the session must carry [[GraftExtensions]]: a session built
    * elsewhere without it fails here instead of running without the rule. */
  def get(master: String = s"local[$cpus]"): SparkSession = synchronized {
    SparkSession.getDefaultSession.map(requireExtension).getOrElse {
      val spark = requireExtension(SparkSession.builder()
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        // testdata ships one parquet file per table; small split size keeps
        // local scans parallel (a real lake has many files instead)
        .config("spark.sql.files.maxPartitionBytes", "4m")
        // the default codegen cache (100 classes) evicts every compiled
        // stage between the warm and timed passes of a full suite; sized
        // to hold the whole suite, as a long-lived cluster session does
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.sql.extensions", Extension)
        .config("spark.ui.enabled", "false")
        .getOrCreate())
      spark.sparkContext.setLogLevel("WARN")
      spark.conf.set("spark.sql.shuffle.partitions",
        spark.sparkContext.defaultParallelism.toLong)
      spark
    }
  }

  /** The extension is applied from the SparkContext's conf, so that conf
    * says whether this session has it. */
  private def requireExtension(spark: SparkSession): SparkSession = {
    val exts = spark.sparkContext.getConf.get("spark.sql.extensions", "")
    require(exts.split(",").map(_.trim).contains(Extension),
      s"the default Spark session was built without $Extension " +
        s"(spark.sql.extensions=$exts)")
    spark
  }

  /** Registers every fixed-name graft function this session's registry
    * lacks. Library entry points call it on the session they were handed,
    * which may be a caller's own session built without the extension. */
  def install(spark: SparkSession): Unit =
    GraftExtensions.functions.foreach { case (name, clazz, builder) =>
      registerIfAbsent(spark, name, clazz, builder)
    }

  /** Registers `name` unless the registry already has it; the check and
    * the registration hold the registry's own lock, so concurrent callers
    * register it once and never replace it. */
  private[graft] def registerIfAbsent(spark: SparkSession, name: String,
      clazz: Class[_], builder: FunctionBuilder): Unit = {
    val registry = spark.sessionState.functionRegistry
    val id = FunctionIdentifier(name)
    registry.synchronized {
      if (!registry.functionExists(id))
        registry.registerFunction(id,
          new ExpressionInfo(clazz.getName, name), builder)
    }
  }
}
