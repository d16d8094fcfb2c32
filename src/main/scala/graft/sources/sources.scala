package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JDBC authentication (reference `JdbcAuth`, feathr-rs/src/source.rs:13-19).
  * Secrets are environment references resolved at read time
  * (source.rs:513-521 serializes them as `${NAME}` placeholders).
  */
sealed trait JdbcAuth
object JdbcAuth {
  case object Anonymous extends JdbcAuth
  case class UserPass(userEnv: String, passwordEnv: String) extends JdbcAuth
  case class Token(tokenEnv: String) extends JdbcAuth
}

/** Where a source's bytes live
  * (reference `DataLocation`, feathr-rs/src/source.rs:56-86).
  */
sealed trait DataLocation
object DataLocation {
  /** File dataset at a path; format inferred from extension
    * (source.rs:60-62; builder source.rs:415-465).
    */
  case class Hdfs(path: String, format: Option[String] = None,
      options: Map[String, String] = Map.empty) extends DataLocation

  /** JDBC table or pushdown query (source.rs:63-71; builder 466-561). */
  case class Jdbc(url: String, dbtable: Option[String] = None,
      query: Option[String] = None, auth: JdbcAuth = JdbcAuth.Anonymous)
    extends DataLocation

  /** Kafka topic set with an Avro value schema
    * (source.rs:72-76; `KafkaSchema` source.rs:48-54).
    */
  case class Kafka(brokers: Seq[String], topics: Seq[String],
      avroSchemaJson: String) extends DataLocation

  /** Arbitrary Spark data source: format + mode + options; option keys
    * with dots are encoded `__` in configs (source.rs:77-85, 692).
    */
  case class Generic(format: String, mode: Option[String] = None,
      options: Map[String, String] = Map.empty, path: Option[String] = None)
    extends DataLocation

  /** A session-catalog table or temp view (also the injection point
    * for in-memory DataFrames in tests).
    */
  case class Table(name: String) extends DataLocation

  /** The observation itself — request-time/passthrough features;
    * cannot be a sink (source.rs:86, 216-218).
    */
  case object InputContext extends DataLocation

  /** Infer a file format from a path extension, csv default for
    * extension-less paths (mirrors the engine-side behavior the
    * reference relies on for `DataLocation::Hdfs`).
    */
  def inferFormat(path: String): String = {
    val p = path.toLowerCase.stripSuffix("/")
    if (p.endsWith(".parquet")) "parquet"
    else if (p.endsWith(".csv")) "csv"
    else if (p.endsWith(".json")) "json"
    else if (p.endsWith(".avro")) "avro"
    else if (p.endsWith(".orc")) "orc"
    else if (p.endsWith(".delta")) "delta"
    else "parquet"
  }
}

/** Event-time metadata for a source
  * (reference `TimeWindowParameters`, feathr-rs/src/source.rs:266-271).
  * Format values: `epoch` (seconds), `epoch_millis`, or a Java
  * datetime pattern (observation.rs:99-130 uses the same grammar).
  */
case class TimeWindowParameters(timestampColumn: String, timestampColumnFormat: String)

object TimestampParser {
  import org.apache.spark.sql.Column

  /** Normalize a raw timestamp column to Spark TimestampType. */
  def toTimestampCol(col: Column, format: String): Column = format match {
    case "epoch"        => to_timestamp(from_unixtime(col.cast("long")))
    case "epoch_millis" => timestamp_millis(col.cast("long"))
    case "native"       => col.cast("timestamp")
    case javaFmt        => to_timestamp(col.cast("string"), javaFmt)
  }

  /** Type-aware variant: `native` dispatches on the column's physical
    * type via [[graft.EventTime.normalizeCol]] — nanos-as-long, NTZ,
    * and TZ (every encoding the driver fixtures have shipped) all land
    * on `TimestampType`, instead of a blind cast that misreads a nanos
    * long as seconds. Non-`native` formats are unchanged.
    *
    * CONTRACT (differs from the pre-r10 blind cast): an INTEGER column
    * under `native` is epoch-NANOS — the only integer encoding a
    * "native timestamp" fixture actually ships. A long holding epoch
    * seconds or millis must declare `epoch` / `epoch_millis`; the old
    * behavior (`cast` = seconds) was an accident of the cast, not a
    * supported grammar.
    */
  def toTimestampColOf(df: DataFrame, column: String, format: String): Column =
    format match {
      case "native" =>
        graft.EventTime.normalizeCol(col(column), df.schema(column).dataType)
      case fmt => toTimestampCol(col(column), fmt)
    }
}

/** A named external dataset + optional event-time metadata + optional
  * preprocessing hook (reference `SourceImpl`, feathr-rs/src/source.rs:275-289;
  * preprocessing source.rs:286 / template driver, here a native Scala
  * `DataFrame => DataFrame` as SURVEY.md §2.1 S6 prescribes).
  */
case class Source(
    name: String,
    location: DataLocation,
    timeWindow: Option[TimeWindowParameters] = None,
    preprocessing: Option[DataFrame => DataFrame] = None) {
  def isInputContext: Boolean = location == DataLocation.InputContext
}
object Source {
  /** Pseudo-source backed by the observation itself
    * (source.rs:297-309).
    */
  val INPUT_CONTEXT: Source = Source("PASSTHROUGH", DataLocation.InputContext)
}

/** Pluggable tail of the secret-resolution chain (the reference's
  * KeyVault layer, feathr-rs/src/var_source.rs:14-38) — register an
  * implementation to serve lookups that neither the environment nor
  * the secrets file satisfied.
  */
trait SecretProvider {
  def get(name: String): Option[String]
}
object SecretProvider {
  @volatile private[sources] var vault: Option[SecretProvider] = None
  def register(p: SecretProvider): Unit = vault = Some(p)
  def clear(): Unit = vault = None
}

/** Resolves a `DataLocation` to a scanned DataFrame. The point-in-time
  * planner resolves each anchor group's source once (mirrors
  * project.rs:392-423 anchor grouping), but that one DataFrame is
  * re-read in the plan by every consumer: the as-of join scans it once
  * and each window cluster of the group again (the default bucketed
  * plan twice, for its bucket partials and its edge rows), so a group
  * with an as-of feature and three window clusters has seven scan nodes.
  */
object SourceResolver {

  /** Layered secret/config resolution, mirroring the reference's
    * var_source chain (env → YAML file → KeyVault,
    * feathr-rs/src/var_source.rs:14-38):
    *   1. process environment;
    *   2. JVM system properties (the testing seam — an embedded test
    *      can't mutate its own environment);
    *   3. a secrets file of `key: value` lines (the YAML-subset shape
    *      the reference reads), at `$GRAFT_SECRETS_FILE` /
    *      `-Dgraft.secrets.file=...`;
    *   4. a registered [[SecretProvider]] (vault stand-in).
    */
  private def env(name: String): String =
    sys.env.get(name)
      .orElse(sys.props.get(name))
      .orElse(secretsFile.get(name))
      .orElse(SecretProvider.vault.flatMap(_.get(name)))
      .getOrElse("")

  private def secretsFile: Map[String, String] = {
    val path = sys.env.get("GRAFT_SECRETS_FILE")
      .orElse(sys.props.get("graft.secrets.file"))
    path.filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      .map { p =>
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p))
          .asScala.iterator
          .map(_.trim)
          .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains(":"))
          .map { l =>
            val Array(k, v) = l.split(":", 2)
            k.trim -> v.trim.stripPrefix("\"").stripSuffix("\"")
          }.toMap
      }.getOrElse(Map.empty)
  }

  private val SecretRef = """\$\{([A-Za-z_][A-Za-z0-9_]*)\}""".r

  /** Resolve `${NAME}` placeholders inside any option value (the
    * reference does this for every config value, source.rs:513-521).
    */
  def resolveSecrets(v: String): String =
    SecretRef.replaceAllIn(v, m => java.util.regex.Matcher.quoteReplacement(env(m.group(1))))

  def read(spark: SparkSession, loc: DataLocation): DataFrame = loc match {
    case DataLocation.Hdfs(path, fmtOpt, opts) =>
      val fmt = fmtOpt.getOrElse(DataLocation.inferFormat(path))
      val r = spark.read.format(fmt).options(opts.view.mapValues(resolveSecrets).toMap)
      val r2 = if (fmt == "csv") r.option("header", "true").option("inferSchema", "true") else r
      r2.load(path)

    case DataLocation.Jdbc(url, dbtable, query, auth) =>
      var r = spark.read.format("jdbc").option("url", url)
      dbtable.foreach(t => r = r.option("dbtable", t))
      query.foreach(q => r = r.option("query", q))
      auth match {
        case JdbcAuth.Anonymous =>
        case JdbcAuth.UserPass(u, p) =>
          r = r.option("user", env(u)).option("password", env(p))
        case JdbcAuth.Token(t) =>
          r = r.option("accessToken", env(t))
      }
      r.load()

    case DataLocation.Generic(format, _, options, path) =>
      val r = spark.read.format(format)
        .options(decodeOptionKeys(options).view.mapValues(resolveSecrets).toMap)
      path.map(r.load).getOrElse(r.load())

    case DataLocation.Kafka(brokers, topics, avroSchemaJson) =>
      // Batch read of a Kafka topic range; streaming path lives in
      // graft.streaming (SURVEY.md §2.7 T1). The Avro value schema
      // decodes `value` into a typed struct (source.rs:48-54).
      val raw = spark.read.format(kafkaFormat)
        .option("kafka.bootstrap.servers", brokers.mkString(","))
        .option("subscribe", topics.mkString(","))
        .load()
      if (avroSchemaJson.trim.isEmpty) raw
      else AvroCodec.decode(raw, "value", avroSchemaJson)

    case DataLocation.Table(name) =>
      spark.table(name)

    case DataLocation.InputContext =>
      throw new IllegalStateException(
        "INPUT_CONTEXT resolves to the observation DataFrame, not a scan")
  }

  /** The real Spark Kafka connector when it is on the classpath, else
    * the in-process stub ([[graft.sources.kafkastub.KafkaStubProvider]]),
    * which serves the identical schema and option contract. Plans are
    * format-agnostic: the same options drive either provider.
    */
  def kafkaFormat: String =
    try { Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider"); "kafka" }
    catch { case _: ClassNotFoundException => "graft-kafka" }

  /** Option keys arrive with dots encoded as `__` (source.rs:692). */
  def decodeOptionKeys(opts: Map[String, String]): Map[String, String] =
    opts.map { case (k, v) => k.replace("__", ".") -> v }

  /** Scan + preprocessing + event-time normalization. Adds
    * `__graft_src_ts` when the source declares time semantics.
    */
  def resolve(spark: SparkSession, src: Source): DataFrame = {
    val raw = read(spark, src.location)
    val pre = src.preprocessing.map(_(raw)).getOrElse(raw)
    src.timeWindow match {
      case Some(tw) => pre.withColumn(Internal.SrcTs,
        TimestampParser.toTimestampColOf(pre, tw.timestampColumn,
          tw.timestampColumnFormat))
      case None => pre
    }
  }
}

/** Internal column names — prefixed to avoid user-schema collisions. */
object Internal {
  val SrcTs = "__graft_src_ts"
  val ObsTs = "__graft_obs_ts"
  val RowId = "__graft_row_id"
  val Tag   = "__graft_tag"
}

/** The spine table of a point-in-time join
  * (reference `ObservationSettings`, feathr-rs/src/observation.rs:6-42;
  * timestamp settings observation.rs:82-130).
  */
case class ObservationSettings(
    location: DataLocation,
    timestampColumn: Option[String] = None,
    timestampFormat: String = "native")
object ObservationSettings {
  def apply(path: String, tsCol: String, fmt: String): ObservationSettings =
    ObservationSettings(DataLocation.Hdfs(path), Some(tsCol), fmt)
  def apply(path: String): ObservationSettings =
    ObservationSettings(DataLocation.Hdfs(path))
}
