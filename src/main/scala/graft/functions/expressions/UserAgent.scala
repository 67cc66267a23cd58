package graft.functions.expressions

import graft.functions.UaTaxonomy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Coalesce, CreateNamedStruct, Expression, GetStructField, ImplicitCastInputTypes, Literal, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** F2 user-agent parse, `parse_ua(ua)`: the flat 12-field struct of
  * [[graft.functions.Scalars.parseUa]], assembled from one native
  * expression per taxonomy part ([[UaPart]]). A null UA parses as "".
  *
  * It stays ONE node through analysis, however many fields a query
  * reads. The optimizer's first batch swaps in the assembled struct;
  * `GetStructField` over it then folds to the part holding the field,
  * so a reader of `os_name` runs only the os walk, and subexpression
  * elimination runs each read part once per row. Analysis and
  * optimization cost thus stays a few nodes per field read, whatever
  * the size of the rule table. */
case class ParseUserAgent(child: Expression) extends UnaryExpression
    with RuntimeReplaceable with ImplicitCastInputTypes {

  override def inputTypes: Seq[StringType] = Seq(StringType)

  override lazy val replacement: Expression = {
    val ua = Coalesce(Seq(child, Literal("")))
    val browser = UaBrowser(ua)
    val engine = UaEngine(ua)
    val os = UaOs(ua)
    val device = UaDevice(ua)
    CreateNamedStruct(Seq(
      "name" -> GetStructField(browser, 0),
      "version" -> GetStructField(browser, 1),
      "major" -> GetStructField(browser, 2),
      "engine_name" -> GetStructField(engine, 0),
      "engine_version" -> GetStructField(engine, 1),
      "os_name" -> GetStructField(os, 0),
      "os_version" -> GetStructField(os, 1),
      "device_type" -> GetStructField(device, 0),
      "device_vendor" -> GetStructField(device, 1),
      "device_model" -> GetStructField(device, 2),
      "cpu_architecture" -> UaCpu(ua),
      "bot" -> UaBot(ua)
    ).flatMap { case (name, e) => Seq(Literal(name), e) })
  }

  override protected def withNewChildInternal(newChild: Expression): ParseUserAgent =
    copy(child = newChild)

  override def prettyName: String = "parse_ua"
}

/** One taxonomy part of a UA string: a static call into its
  * [[UaTaxonomy]] rule walk (each regex compiled once, with the table),
  * inside whole-stage codegen like [[SimHash64]]. Serializable because
  * its constructor takes arguments: tasks deserialize the plan. */
sealed abstract class UaPart(fn: String, val dataType: DataType)
    extends UnaryExpression with Serializable {

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.expressions.UaPart.$fn($c)")

  override def prettyName: String = s"ua_$fn"
}

case class UaBrowser(child: Expression)
    extends UaPart("browser", UaPart.browserType) {
  override def nullSafeEval(ua: Any): Any = UaPart.browser(ua.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): UaBrowser = copy(child = c)
}

case class UaEngine(child: Expression)
    extends UaPart("engine", UaPart.engineType) {
  override def nullSafeEval(ua: Any): Any = UaPart.engine(ua.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): UaEngine = copy(child = c)
}

case class UaOs(child: Expression) extends UaPart("os", UaPart.osType) {
  override def nullSafeEval(ua: Any): Any = UaPart.os(ua.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): UaOs = copy(child = c)
}

case class UaDevice(child: Expression)
    extends UaPart("device", UaPart.deviceType) {
  override def nullSafeEval(ua: Any): Any = UaPart.device(ua.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): UaDevice = copy(child = c)
}

case class UaCpu(child: Expression) extends UaPart("cpu", StringType) {
  override def nullSafeEval(ua: Any): Any = UaPart.cpu(ua.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): UaCpu = copy(child = c)
}

case class UaBot(child: Expression) extends UaPart("bot", BooleanType) {
  override def nullSafeEval(ua: Any): Any = UaPart.bot(ua.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): UaBot = copy(child = c)
}

/** The part walks in Catalyst's value types (generated code calls
  * these). */
object UaPart {
  private def strings(names: String*): StructType =
    StructType(names.map(StructField(_, StringType, nullable = false)))
  private def row(values: String*): InternalRow =
    InternalRow(values.map(UTF8String.fromString): _*)

  val browserType: StructType = strings("name", "version", "major")
  val engineType: StructType = strings("name", "version")
  val osType: StructType = strings("name", "version")
  val deviceType: StructType = strings("type", "vendor", "model")

  def browser(ua: UTF8String): InternalRow = {
    val (name, version, major) = UaTaxonomy.browser(ua.toString)
    row(name, version, major)
  }
  def engine(ua: UTF8String): InternalRow = {
    val (name, version) = UaTaxonomy.engine(ua.toString)
    row(name, version)
  }
  def os(ua: UTF8String): InternalRow = {
    val (name, version) = UaTaxonomy.os(ua.toString)
    row(name, version)
  }
  def device(ua: UTF8String): InternalRow = {
    val (dtype, vendor, model) = UaTaxonomy.device(ua.toString)
    row(dtype, vendor, model)
  }
  def cpu(ua: UTF8String): UTF8String =
    UTF8String.fromString(UaTaxonomy.cpu(ua.toString))
  def bot(ua: UTF8String): Boolean = UaTaxonomy.bot(ua.toString)
}
