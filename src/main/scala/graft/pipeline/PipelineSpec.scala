package graft.pipeline

import scala.jdk.CollectionConverters._

import graft.dq.{Check, MinRowCount, NullRatio, RequiredColumns, SourceExists, UniqueColumn, UnknownCheck, ValueRange}

/** Typed pipeline specification — the engine's "query language" for the
  * self-service path, mirroring the 4-section YAML of
  * /root/reference/configs/sources/marketing_api_campaigns.yaml:1-34
  * (pipeline_info / source / destination / data_quality_checks), parsed into
  * case classes instead of a dynamically-accessed dict
  * (/root/reference/dags/dag_factory.py:27-30).
  */
final case class PipelineInfo(
    name: String,
    owner: String,
    schedule: String,
    tags: Seq[String],
    description: String)

sealed trait SourceSpec
/** HTTP-API source (reference `generic_api`): params may contain `{{ ds }}`. */
final case class ApiSource(
    connectionId: String,
    endpoint: String,
    params: Map[String, String]) extends SourceSpec
/** Self-service file source (csv/json/parquet) with inferred or given schema. */
final case class FileSource(
    format: String,
    path: String,
    options: Map[String, String]) extends SourceSpec

sealed trait DestinationSpec
/** Raw-zone destination; `path` may contain `{{ ds }}` (templated like
  * api_to_s3.py:29's `template_fields`).
  */
final case class RawZoneDest(bucket: String, path: String) extends DestinationSpec

final case class PipelineSpec(
    info: PipelineInfo,
    source: SourceSpec,
    destination: DestinationSpec,
    checks: Seq[Check])

object PipelineSpec {

  /** Render the reference's only template macro: `{{ ds }}` → the run date
    * (dag_factory.py relies on Airflow Jinja; we support the same token).
    */
  def renderDs(template: String, ds: String): String =
    template.replaceAll("""\{\{\s*ds\s*\}\}""", ds)

  /** Parse a YAML pipeline spec (snakeyaml, shipped with Spark).
    * Null-safe throughout: a key present with an EMPTY value (`description:`
    * on its own line — routine in hand-edited YAML) parses like an absent
    * key, and an empty document parses like an empty spec, instead of
    * NPE-ing. Config ERRORS (e.g. min_row_count without a threshold, a
    * null_ratio max_ratio outside [0, 1], a value_range with min > max or a
    * NaN bound) throw IllegalArgumentException at parse time — a
    * silently-defaulted threshold of 0 would make the check always pass.
    */
  def fromYaml(yaml: String): PipelineSpec = {
    val root: Map[String, Object] =
      Option(new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](yaml))
        .map(_.asScala.toMap).getOrElse(Map.empty)

    def section(name: String): Map[String, Object] =
      root.get(name) match {
        case Some(m: java.util.Map[_, _]) =>
          m.asScala.map { case (k, v) => k.toString -> v.asInstanceOf[Object] }.toMap
        case _ => Map.empty
      }
    def str(m: Map[String, Object], k: String, default: String = ""): String =
      m.get(k).flatMap(Option(_)).map(_.toString).getOrElse(default)
    def strMap(v: Object): Map[String, String] = v match {
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, x) => k.toString -> String.valueOf(x) }.toMap
      case _ => Map.empty
    }
    def strSeq(v: Object): Seq[String] = v match {
      case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
      case _ => Seq.empty
    }

    val info = {
      val m = section("pipeline_info")
      PipelineInfo(str(m, "name"), str(m, "owner"), str(m, "schedule"),
        m.get("tags").map(strSeq).getOrElse(Nil), str(m, "description"))
    }

    val source = {
      val m = section("source")
      str(m, "type") match {
        case "generic_api" =>
          ApiSource(str(m, "connection_id"), str(m, "endpoint"),
            m.get("params").map(strMap).getOrElse(Map.empty))
        case fmt => // csv / json / parquet self-service file sources
          FileSource(fmt, str(m, "path"),
            m.get("options").map(strMap).getOrElse(Map.empty))
      }
    }

    val dest = {
      val m = section("destination")
      RawZoneDest(str(m, "bucket"), str(m, "path"))
    }

    val checks: Seq[Check] = root.get("data_quality_checks") match {
      case Some(l: java.util.List[_]) =>
        l.asScala.toSeq.collect { case m: java.util.Map[_, _] =>
          val c = m.asScala.map { case (k, v) => k.toString -> v }.toMap
          def opt(k: String): Option[String] =
            c.get(k).flatMap(Option(_)).map(_.toString)
          def required(k: String, checkType: String): String =
            opt(k).getOrElse(throw new IllegalArgumentException(
              s"$checkType check requires '$k' — refusing a silent default"))
          opt("check_type") match {
            case Some("min_row_count") =>
              MinRowCount(required("threshold", "min_row_count").toLong)
            case Some("required_columns") =>
              RequiredColumns(c.get("columns").flatMap(Option(_))
                .map(v => strSeq(v.asInstanceOf[Object])).getOrElse(Nil))
            case Some("unique_column") =>
              UniqueColumn(required("column", "unique_column"))
            case Some("source_exists") =>
              SourceExists(required("path", "source_exists"))
            case Some("null_ratio") =>
              // YAML carries a decimal max_ratio; the check compares in
              // exact integer arithmetic at parts-per-million resolution.
              val ratio = required("max_ratio", "null_ratio").toDouble
              if (!(ratio >= 0 && ratio <= 1)) throw new IllegalArgumentException(
                s"null_ratio max_ratio must lie in [0, 1], got $ratio")
              NullRatio(required("column", "null_ratio"),
                math.round(ratio * 1000000L), 1000000L)
            case Some("value_range") =>
              val column = required("column", "value_range")
              val (lo, hi) = (required("min", "value_range").toDouble,
                required("max", "value_range").toDouble)
              // an empty range or a NaN bound makes a check that always
              // fails or always passes: a config error, like a missing bound
              if (!(lo <= hi)) throw new IllegalArgumentException(
                s"value_range needs min <= max and no NaN bound, got [$lo, $hi]")
              ValueRange(column, lo, hi)
            case Some("freshness") =>
              // as_of comes from the spec's scheduling context ({{ ds }}
              // templating upstream), never the wall clock. snakeyaml
              // auto-parses an unquoted ISO date to java.util.Date; a
              // quoted/templated one arrives as a string — accept both.
              val asOf = c.get("as_of").flatMap(Option(_)) match {
                case Some(d: java.util.Date) => new java.sql.Date(d.getTime)
                case Some(s) => java.sql.Date.valueOf(s.toString)
                case None => throw new IllegalArgumentException(
                  "freshness check requires 'as_of' — refusing a silent default")
              }
              graft.dq.Freshness(required("column", "freshness"), asOf,
                required("max_age_days", "freshness").toInt)
            case other =>
              UnknownCheck(other.getOrElse("<missing>"))
          }
        }
      case _ => Nil
    }

    PipelineSpec(info, source, dest, checks)
  }
}
