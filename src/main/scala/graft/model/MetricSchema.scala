package graft.model

import org.apache.spark.sql.types._

/**
 * Field classification for metric columns, mirroring the reference's four
 * field classes (`nsdb-common/.../protocol/FieldClassType.scala:31-36`):
 * every metric has exactly one `timestamp` (epoch millis, long) and one
 * numeric `value`; remaining columns are dimensions or tags. Only tags may
 * be grouped on.
 */
sealed trait FieldClass { def name: String }
object FieldClass {
  case object Timestamp extends FieldClass { val name = "timestamp" }
  case object Value     extends FieldClass { val name = "value" }
  case object Dimension extends FieldClass { val name = "dimension" }
  case object Tag       extends FieldClass { val name = "tag" }

  def fromName(s: String): FieldClass = s match {
    case "timestamp" => Timestamp
    case "value"     => Value
    case "tag"       => Tag
    case _           => Dimension
  }
}

final case class MetricField(name: String, dataType: DataType, fieldClass: FieldClass)

/**
 * Schema of a metric: column name → [[MetricField]].
 *
 * Schemas are dynamic: they are derived from incoming records and evolved by
 * union — a field present in both old and new schema must keep its exact
 * type, otherwise the write is rejected (reference semantics:
 * `nsdb-core/.../model/Schema.scala:116-129`).
 */
final case class MetricSchema(fields: Map[String, MetricField]) {

  def tags: Map[String, MetricField]       = fields.filter(_._2.fieldClass == FieldClass.Tag)
  def dimensions: Map[String, MetricField] = fields.filter(_._2.fieldClass == FieldClass.Dimension)
  def contains(name: String): Boolean      = fields.contains(name)
  def isNumeric(name: String): Boolean =
    fields.get(name).exists(_.dataType.isInstanceOf[NumericType])

  /** All column names in canonical order: timestamp, value, then the rest sorted. */
  def orderedNames: Seq[String] =
    Seq("timestamp", "value").filter(fields.contains) ++
      fields.keys.filterNot(n => n == "timestamp" || n == "value").toSeq.sorted

  /** Union with a schema derived from a new record batch; type conflicts reject the write. */
  def union(other: MetricSchema): Either[String, MetricSchema] = {
    val conflicts = fields.keySet.intersect(other.fields.keySet).filter { k =>
      fields(k).dataType != other.fields(k).dataType ||
      fields(k).fieldClass != other.fields(k).fieldClass
    }
    if (conflicts.nonEmpty)
      Left(s"schema conflict on fields [${conflicts.toSeq.sorted.mkString(",")}]")
    else Right(MetricSchema(fields ++ other.fields))
  }

  /** Spark StructType carrying the field class in column metadata. */
  def toStruct: StructType = StructType(orderedNames.map { n =>
    val f = fields(n)
    StructField(
      n,
      f.dataType,
      nullable = f.fieldClass == FieldClass.Dimension || f.fieldClass == FieldClass.Tag,
      new MetadataBuilder().putString(MetricSchema.FieldClassKey, f.fieldClass.name).build()
    )
  }.toSeq)
}

object MetricSchema {
  val FieldClassKey = "graft.fieldClass"

  /** Classify an arbitrary source schema into a metric schema. */
  def fromMapping(st: StructType, tagNames: Set[String]): MetricSchema =
    MetricSchema(st.fields.map { f =>
      val cls =
        if (f.name == "timestamp") FieldClass.Timestamp
        else if (f.name == "value") FieldClass.Value
        else if (tagNames.contains(f.name)) FieldClass.Tag
        else FieldClass.Dimension
      f.name -> MetricField(f.name, f.dataType, cls)
    }.toMap)
}
