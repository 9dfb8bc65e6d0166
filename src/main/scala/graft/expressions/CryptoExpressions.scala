package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Native Catalyst expressions for the hot commitment kernels
  * (SURVEY §2.9: "promote hot ones to codegen `Expression`").
  *
  * Compared to the UDF wrappers these stay inside whole-stage codegen:
  * no encoder round-trip, no closure dispatch — the generated Java
  * calls the kernel's static forwarder directly on the unsafe row's
  * byte array. The kernels themselves are shared with the UDF path
  * (graft.core), so both evaluate bit-identically.
  */
case class Keccak256Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a binary argument")
  override def prettyName: String = "keccak256"
  override protected def nullSafeEval(input: Any): Any =
    graft.core.Keccak.keccak256(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.Keccak.keccak256($c)")
  override protected def withNewChildInternal(newChild: Expression): Keccak256Expr =
    copy(child = newChild)
}

/** `leaf_hash_for_mapping` (storage/lpn/mod.rs:44-56) as a codegen
  * binary expression over (key32, value32). */
case class MappingLeafHashExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary arguments")
  override def prettyName: String = "mapping_leaf_hash"
  override protected def nullSafeEval(k: Any, v: Any): Any =
    graft.core.Commitments.mappingLeafHash(k.asInstanceOf[Array[Byte]], v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (k, v) => s"graft.core.Commitments.mappingLeafHash($k, $v)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): MappingLeafHashExpr =
    copy(left = newLeft, right = newRight)
}

/** `leaf_digest_for_mapping` (storage/lpn/mod.rs:30-42), codegen. */
case class MappingLeafDigestExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary arguments")
  override def prettyName: String = "mapping_leaf_digest"
  override protected def nullSafeEval(k: Any, v: Any): Any =
    graft.core.Commitments.mappingLeafDigest(k.asInstanceOf[Array[Byte]], v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (k, v) => s"graft.core.Commitments.mappingLeafDigest($k, $v)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): MappingLeafDigestExpr =
    copy(left = newLeft, right = newRight)
}

/** fused `leaf_hash_for_mapping` + `leaf_digest_for_mapping` over one
  * Poseidon sponge (the two kernels share their absorb — see
  * [[graft.core.Commitments.mappingLeafCommit]]): hash(32) ‖ digest
  * point(81). The storage-DB build slices both halves with
  * `substring`, paying the 2-permutation absorb once per entry. */
case class MappingLeafCommitExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary arguments")
  override def prettyName: String = "mapping_leaf_commit"
  override protected def nullSafeEval(k: Any, v: Any): Any =
    graft.core.Commitments.mappingLeafCommit(k.asInstanceOf[Array[Byte]], v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (k, v) => s"graft.core.Commitments.mappingLeafCommit($k, $v)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): MappingLeafCommitExpr =
    copy(left = newLeft, right = newRight)
}

/** u256 addition with overflow abort, codegen (F7; the reference pins
  * the overflow flag false — u256.rs:43-110). */
case class U256AddExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary arguments")
  override def prettyName: String = "u256_add"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.core.U256.addBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.U256.addBytes($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): U256AddExpr =
    copy(left = newLeft, right = newRight)
}

/** fused u256 (a*b)/c at full intermediate precision, codegen — the
  * per-row kernel of the ERC20 plan (query_erc20/storage/leaf.rs:
  * 57-116). */
case class U256MulDivExpr(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == BinaryType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary arguments")
  override def prettyName: String = "u256_mul_div"
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    graft.core.U256.mulDivBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]],
      c.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.core.U256.mulDivBytes($a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): U256MulDivExpr =
    copy(first = f, second = s, third = t)
}

/** `state_leaf_hash` (state/lpn/mod.rs:25-45) as a codegen expression —
  * the per-row kernel of the state-DB build (one hash per contract per
  * block; at 100 TB this is the hot inner loop of stage 7). */
case class StateLeafHashExpr(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  import org.apache.spark.sql.types.IntegerType
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == BinaryType && second.dataType == IntegerType &&
      third.dataType == IntegerType && fourth.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires (binary, int, int, binary)")
  override def prettyName: String = "state_leaf_hash"
  override protected def nullSafeEval(c: Any, ms: Any, ls: Any, r: Any): Any =
    graft.core.Commitments.stateLeafHash(c.asInstanceOf[Array[Byte]],
      ms.asInstanceOf[Int], ls.asInstanceOf[Int], r.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, ms, ls, r) => s"graft.core.Commitments.stateLeafHash($c, $ms, $ls, $r)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression, q: Expression): StateLeafHashExpr =
    copy(first = f, second = s, third = t, fourth = q)
}

/** Static forwarders bridging codegen'd ArrayData to the pure MPT
  * kernel (graft.core stays Spark-free). */
object MptCodegen {
  import org.apache.spark.sql.catalyst.util.ArrayData
  private def toSeq(nodes: ArrayData): Seq[Array[Byte]] = {
    val n = nodes.numElements()
    val out = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { out(i) = nodes.getBinary(i); i += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }
  def verify(nodes: ArrayData, key: Array[Byte], root: Array[Byte]): Array[Byte] =
    graft.core.Mpt.verifyProof(toSeq(nodes), key, root).map(graft.core.Bytes.leftPad32).orNull
  def verifyRaw(nodes: ArrayData, key: Array[Byte], root: Array[Byte]): Array[Byte] =
    graft.core.Mpt.verifyProofRaw(toSeq(nodes), key, root).orNull
}

/** full MPT proof walk as a codegen expression (S2, eth.rs:310-333):
  * returns the proven value (left-padded to 32B for `raw = false`) or
  * NULL when the proof does not verify — the null IS the quarantine
  * signal, so the expression is explicitly nullable. */
case class MptVerifyExpr(first: Expression, second: Expression, third: Expression, raw: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  import org.apache.spark.sql.types.ArrayType
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == ArrayType(BinaryType, containsNull = false) ||
      first.dataType == ArrayType(BinaryType, containsNull = true)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<binary> nodes")
  override def prettyName: String = if (raw) "mpt_verify_raw" else "mpt_verify"
  private def forwarder: String =
    if (raw) "graft.expressions.MptCodegen.verifyRaw" else "graft.expressions.MptCodegen.verify"
  override protected def nullSafeEval(n: Any, k: Any, r: Any): Any = {
    val res =
      if (raw) MptCodegen.verifyRaw(n.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        k.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]])
      else MptCodegen.verify(n.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        k.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]])
    res // may be null: failed proofs yield NULL
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (n, k, r) => s"""
      ${ev.value} = $forwarder($n, $k, $r);
      ${ev.isNull} = (${ev.value} == null);
    """)
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): MptVerifyExpr =
    copy(first = f, second = s, third = t)
}

/** Session extension wiring (SparkSessionExtensions): registers the
  * native expressions as SQL functions, so
  * `spark.sql("SELECT keccak256(x) ...")` plans the codegen
  * expression — no UDF in the path, as long as nothing re-registers
  * one of these names as a UDF (`GraftFunctions.register` registers
  * only UDF-only names; `CryptoExpressionsSpec` checks every name
  * below). [[graft.Graft.session]] installs it. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("keccak256"),
      new ExpressionInfo(classOf[Keccak256Expr].getName, "keccak256"),
      (args: Seq[Expression]) => Keccak256Expr(args.head)))
    ext.injectFunction((
      FunctionIdentifier("mapping_leaf_hash"),
      new ExpressionInfo(classOf[MappingLeafHashExpr].getName, "mapping_leaf_hash"),
      (args: Seq[Expression]) => MappingLeafHashExpr(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("mapping_leaf_digest"),
      new ExpressionInfo(classOf[MappingLeafDigestExpr].getName, "mapping_leaf_digest"),
      (args: Seq[Expression]) => MappingLeafDigestExpr(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("u256_add"),
      new ExpressionInfo(classOf[U256AddExpr].getName, "u256_add"),
      (args: Seq[Expression]) => U256AddExpr(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("u256_mul_div"),
      new ExpressionInfo(classOf[U256MulDivExpr].getName, "u256_mul_div"),
      (args: Seq[Expression]) => U256MulDivExpr(args(0), args(1), args(2))))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "nfc_normalize"),
      (args: Seq[Expression]) => NfcNormalizeExpr(args.head)))
    ext.injectFunction((
      FunctionIdentifier("deflate_ratio"),
      new ExpressionInfo(classOf[DeflateRatioExpr].getName, "deflate_ratio"),
      (args: Seq[Expression]) => DeflateRatioExpr(args.head)))
    ext.injectFunction((
      FunctionIdentifier("simhash128"),
      new ExpressionInfo(classOf[SimHash128Expr].getName, "simhash128"),
      (args: Seq[Expression]) => SimHash128Expr(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("lsh_scale_vec"),
      new ExpressionInfo(classOf[LshScaleVecExpr].getName, "lsh_scale_vec"),
      (args: Seq[Expression]) => LshScaleVecExpr(args(0), args(1))))
  }
}
