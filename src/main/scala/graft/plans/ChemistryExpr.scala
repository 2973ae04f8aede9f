package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Chemistry

/** Native chemistry expression: one SMILES string in, the result of the
  * chemistry function `name` out, computed by the compact parse of
  * [[graft.functions.Chemistry.Kernel]]. It serves every chemistry SQL
  * name (see [[ChemistryExpr.names]]) and the Column forms in
  * `Chemistry`, and keeps the results, types and nullability the
  * Scala functions define:
  *  - `is_valid_smiles`, `lipinski_ok`: `boolean`, never NULL (NULL
  *    input gives false);
  *  - `molecular_weight`, `log_p`/`smiles_logp`, `tpsa`/`smiles_tpsa`:
  *    `double`, NULL when the SMILES does not parse;
  *  - `normalize_smiles`, `strip_salt`: `string`, NULL for NULL;
  *  - `morgan_fp` (radius 2, 1024 bits), `structural_keys`:
  *    `array<int>` without NULL elements, NULL when the SMILES does not
  *    parse.
  *
  * Generated code calls `test`, `real` or `compute` on this instance,
  * which builds the catalyst value directly. The kernel's scratch
  * arrays belong to this instance; each task deserializes its own copy
  * of the plan, so no two threads share one.
  */
case class ChemistryExpr(child: Expression, name: String)
    extends UnaryExpression with ImplicitCastInputTypes {

  private val kind: Int = ChemistryExpr.kinds.getOrElse(name,
    throw new IllegalArgumentException(s"unknown chemistry function '$name'"))
  private val lipinski = name == "lipinski_ok"
  private val weight = name == "molecular_weight"
  private val logP = name == "log_p" || name == "smiles_logp"
  private val normalize = name == "normalize_smiles"
  private val morgan = name == "morgan_fp"

  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = Iterator(child)
  override def inputTypes: Seq[StringType] = Seq(StringType)

  override def dataType: DataType = kind match {
    case ChemistryExpr.Bool => BooleanType
    case ChemistryExpr.Real => DoubleType
    case ChemistryExpr.Text => StringType
    case _ => ArrayType(IntegerType, containsNull = false)
  }

  override def nullable: Boolean = kind != ChemistryExpr.Bool

  @transient private lazy val kernel = new Chemistry.Kernel

  private def smiles(input: UTF8String): String = if (input == null) null else input.toString

  /** Boolean functions; NULL input gives false. */
  def test(input: UTF8String): Boolean = {
    val k = kernel
    val ok = k.parse(smiles(input))
    if (lipinski) ok && k.lipinskiOk else ok
  }

  /** Double functions; `NaN` when the SMILES does not parse (no result
    * of a parsed SMILES is NaN).
    */
  def real(input: UTF8String): Double = {
    val k = kernel
    if (!k.parse(smiles(input))) Double.NaN
    else if (weight) k.molecularWeight
    else if (logP) k.logP
    else k.tpsa
  }

  /** String and array functions; NULL when there is no result. */
  def compute(input: UTF8String): AnyRef = kind match {
    case ChemistryExpr.Text =>
      if (input == null) null
      else {
        val s = input.toString
        val out = if (normalize) kernel.normalize(s) else kernel.stripSalt(s)
        if (out eq s) input else UTF8String.fromString(out)
      }
    case _ =>
      val k = kernel
      if (!k.parse(smiles(input))) null
      else UnsafeArrayData.fromPrimitiveArray(
        if (morgan) k.morganBits(2, 1024) else k.structuralKeys)
  }

  override def eval(row: InternalRow): Any = {
    val input = child.eval(row).asInstanceOf[UTF8String]
    kind match {
      case ChemistryExpr.Bool => test(input)
      case ChemistryExpr.Real => val d = real(input); if (d.isNaN) null else d
      case _ => compute(input)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("chem", this, classOf[ChemistryExpr].getName)
    val in = child.genCode(ctx)
    val arg = s"${in.isNull} ? null : ${in.value}"
    kind match {
      case ChemistryExpr.Bool =>
        ev.copy(code = code"""
          ${in.code}
          boolean ${ev.value} = $self.test($arg);""", isNull = FalseLiteral)
      case ChemistryExpr.Real =>
        ev.copy(code = code"""
          ${in.code}
          double ${ev.value} = $self.real($arg);
          boolean ${ev.isNull} = Double.isNaN(${ev.value});""")
      case _ =>
        val javaType = CodeGenerator.javaType(dataType)
        ev.copy(code = code"""
          ${in.code}
          $javaType ${ev.value} = ($javaType) $self.compute($arg);
          boolean ${ev.isNull} = ${ev.value} == null;""")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ChemistryExpr =
    copy(child = newChild)
}

object ChemistryExpr {
  private final val Bool = 0
  private final val Real = 1
  private final val Text = 2
  private final val Bits = 3

  /** Every chemistry SQL name and the kind of its result;
    * `log_p`/`smiles_logp` and `tpsa`/`smiles_tpsa` are the same
    * descriptor under both names SQL texts use.
    */
  private val kinds: Map[String, Int] = Map(
    "is_valid_smiles" -> Bool, "lipinski_ok" -> Bool,
    "molecular_weight" -> Real, "log_p" -> Real, "smiles_logp" -> Real,
    "tpsa" -> Real, "smiles_tpsa" -> Real,
    "normalize_smiles" -> Text, "strip_salt" -> Text,
    "morgan_fp" -> Bits, "structural_keys" -> Bits)

  val names: Seq[String] = kinds.keys.toSeq.sorted

  /** The SQL builder of `name`: one string argument. */
  def builder(name: String): Seq[Expression] => Expression = { args =>
    require(args.size == 1, s"$name(smiles)")
    ChemistryExpr(args.head, name)
  }
}
