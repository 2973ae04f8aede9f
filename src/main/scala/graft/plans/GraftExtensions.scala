package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: injects the engine's native
  * Catalyst expressions as SQL functions, so a session started with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` exposes
  * them to pure-SQL clients with full codegen (no UDF boundary).
  * [[GraftExtensions.builders]] is the one list of them, the chemistry
  * functions included: `is_valid_smiles`, `molecular_weight`,
  * `normalize_smiles`, `strip_salt`, `log_p`/`smiles_logp`,
  * `tpsa`/`smiles_tpsa`, `lipinski_ok`, `morgan_fp` and
  * `structural_keys` (all [[ChemistryExpr]]).
  *
  * This is the registration half of preference tier (b)/(c) from
  * SURVEY.md §2C; no custom optimizer Rule or SparkStrategy is needed
  * for this engine (Catalyst covers §4), so none is injected.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(e.injectFunction)
    GraftTableFunctions.descriptors.foreach(e.injectTableFunction)
  }
}

object GraftExtensions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private[plans] def buildMinhash(args: Seq[Expression]): Expression = {
    require(args.size == 2, "minhash_signature(hashes, numHashes)")
    MinHashSignatureExpr(args.head, intLit(args(1), "numHashes"))
  }

  private[plans] def buildBandKeys(args: Seq[Expression]): Expression = {
    require(args.size == 3 || args.size == 4,
      "minhash_band_keys(text, bands, rowsPerBand[, shingleSize])")
    ShingleMinHashBandKeysExpr(args.head,
      intLit(args(1), "bands"), intLit(args(2), "rowsPerBand"),
      if (args.size == 4) intLit(args(3), "shingleSize") else 3)
  }

  /** The full native-kernel SQL surface: name → builder. */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("minhash_signature", classOf[MinHashSignatureExpr].getName, buildMinhash _),
    ("minhash_band_keys", classOf[ShingleMinHashBandKeysExpr].getName, buildBandKeys _),
    ("ws_tokens", classOf[TokensExpr].getName, { args: Seq[Expression] =>
      require(args.size == 1, "ws_tokens(text)"); TokensExpr(args.head) }),
    ("token_shingles", classOf[TokenShinglesExpr].getName, { args: Seq[Expression] =>
      require(args.size == 2, "token_shingles(text, n)")
      TokenShinglesExpr(args.head, intLit(args(1), "n")) }),
    ("simhash32", classOf[SimHash32Expr].getName, { args: Seq[Expression] =>
      require(args.size == 1, "simhash32(text)"); SimHash32Expr(args.head) }),
    ("simhash64", classOf[SimHash64Expr].getName, { args: Seq[Expression] =>
      require(args.size == 1, "simhash64(text)"); SimHash64Expr(args.head) }),
    ("sign_bucket", classOf[SignBucketExpr].getName, { args: Seq[Expression] =>
      require(args.size == 2, "sign_bucket(vec, bits)")
      SignBucketExpr(args.head, intLit(args(1), "bits")) }),
    ("dot_product", classOf[DotProductExpr].getName, { args: Seq[Expression] =>
      require(args.size == 2, "dot_product(a, b)")
      DotProductExpr(args.head, args(1)) }),
    ("array_jaccard", classOf[ArrayJaccardExpr].getName, { args: Seq[Expression] =>
      require(args.size == 2, "array_jaccard(a, b)")
      ArrayJaccardExpr(args.head, args(1)) }),
    ("cms_estimate", classOf[CmsEstimateExpr].getName, { args: Seq[Expression] =>
      require(args.size == 2, "cms_estimate(sketch, item)")
      CmsEstimateExpr(args.head, args(1)) }),
    ("sdf_props", classOf[SdfPropsExpr].getName, { args: Seq[Expression] =>
      require(args.size == 1, "sdf_props(record)"); SdfPropsExpr(args.head) }),
    ("media_header", classOf[MediaHeaderExpr].getName, { args: Seq[Expression] =>
      require(args.size == 1, "media_header(payload)"); MediaHeaderExpr(args.head) }),
    ("pcm_energy", classOf[PcmEnergyExpr].getName, { args: Seq[Expression] =>
      require(args.size == 2, "pcm_energy(payload, bands)")
      PcmEnergyExpr(args.head, intLit(args(1), "bands")) }),
    ("url_canon", classOf[UrlCanonExpr].getName, { args: Seq[Expression] =>
      require(args.size == 1, "url_canon(url)"); UrlCanonExpr(args.head) }),
    ("png_block_means", classOf[PngBlockMeanExpr].getName, { args: Seq[Expression] =>
      require(args.size == 2, "png_block_means(payload, grid)")
      PngBlockMeanExpr(args.head, intLit(args(1), "grid")) })) ++
    ChemistryExpr.names.map(n => (n, classOf[ChemistryExpr].getName, ChemistryExpr.builder(n)))

  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    builders.map { case (name, cls, b) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls, name), b)
    }

  /** Direct registration into an existing session (tests, notebooks). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, _, b) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "scala_udf")
    }
}
