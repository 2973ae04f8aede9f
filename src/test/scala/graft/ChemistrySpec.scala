package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.{col, udf}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.Chemistry
import graft.plans.ChemistryExpr

/** Chemistry tests: hand-computed expected values (weights: C 12.011,
  * H 1.008, O 15.999, N 14.007), and the compact kernel, the SQL
  * functions and the Column forms against the earlier object-based
  * implementation, kept as the oracle in the companion object.
  */
class ChemistrySpec extends SparkSpec {
  import ChemistrySpec.Oracle

  // ring closures (a doubled ring bond, %nn labels, a reused label),
  // aromatics, bracket atoms with charge / isotope / H count, two-letter
  // symbols whose sort order matters, salts, and strings that must not parse
  private val fingerprintCorpus = Seq(
    "C", "CCO", "C12CC12", "C%10CCCCC%10", "C%12CC%13CCC%12C%13", "C1CC1C1CCC1",
    "c1ccccc1", "c1ccc2ccccc2c1", "c1ccncc1", "[nH]1cccc1", "O=C1C=CC(=O)C=C1",
    "[13CH3][N+](C)(C)C", "[2H]C([2H])([2H])O", "[NH4+]", "CC(=O)[O-]", "[Fe+2]",
    "C[C@@H](N)C(=O)O", "F/C=C\\F", "N#CC=CC(=O)O",
    "ClC(Br)CN", "BrCCCl", "NC(Cl)(Br)C", "ClCl", "C(Cl)(Cl)(Cl)Br",
    "CCO.[Na+].[Cl-]", "OC(=O)c1ccccc1.[K+]", "C.C", "C" * 40,
    null, "", "C1CC", "CC(", "CC)", "[Xx]", "C=", "Q", "1CC", "C11", "C%1", "[C")

  private val radii = Seq(0, 1, 2, 3)
  private val widths = Seq(1000, 1024, 2048) // 1000: the bitmap's last word is partial

  private def sameBits(s: String, radius: Int, nBits: Int): Boolean =
    Chemistry.morganBits(s, radius, nBits).map(_.toSeq) ==
      Oracle.morganBits(s, radius, nBits).map(_.toSeq)

  /** Valid SMILES: chains with bonds, nested branches, bracket atoms,
    * single-digit and `%nn` ring closures (each closed on a later atom
    * than the one that opened it) and `.`-separated fragments.
    */
  private val validSmilesGen: Gen[String] = Gen.long.map { seed =>
    val rnd = new scala.util.Random(seed)
    val organic = Vector("C", "C", "C", "N", "O", "S", "P", "F", "Cl", "Br", "I", "B",
      "c", "n", "o", "s")
    val bracket = Vector("[NH4+]", "[13CH3]", "[O-]", "[Na+]", "[Fe+2]", "[nH]",
      "[C@@H]", "[Se]", "[2H]", "[Cl-]", "[N+]")
    val bonds = Vector("", "", "", "", "=", "#", "-")
    val sb = new StringBuilder
    val open = scala.collection.mutable.LinkedHashMap.empty[String, Int] // label -> opening atom
    var atoms = 0
    def label(): String = {
      val n = 1 + rnd.nextInt(30)
      if (n < 10) n.toString else f"%%$n%02d"
    }
    def chain(len: Int, depth: Int): Unit = (0 until len).foreach { k =>
      if (k > 0) sb ++= bonds(rnd.nextInt(bonds.size))
      sb ++= (if (rnd.nextInt(8) == 0) bracket(rnd.nextInt(bracket.size))
        else organic(rnd.nextInt(organic.size)))
      val here = atoms
      atoms += 1
      open.headOption.filter(_ => rnd.nextInt(3) == 0).foreach { case (l, _) =>
        sb ++= l; open.remove(l)
      }
      if (rnd.nextInt(5) == 0) {
        val l = label()
        if (!open.contains(l)) { sb ++= l; open(l) = here }
      }
      if (depth < 3 && rnd.nextInt(4) == 0) {
        sb += '('
        sb ++= bonds(rnd.nextInt(bonds.size))
        chain(1 + rnd.nextInt(4), depth + 1)
        sb += ')'
      }
    }
    (0 until 1 + rnd.nextInt(3)).foreach { f =>
      if (f > 0) sb += '.'
      chain(1 + rnd.nextInt(12), 0)
      open.keys.toList.foreach { l => sb ++= "C" + l; atoms += 1 }
      open.clear()
    }
    sb.toString
  }

  private def mw(s: String): Double =
    math.rint(Chemistry.molecularWeight(s).get * 1000) / 1000

  test("validity: accepts organic subset, rings, branches, brackets, salts") {
    val valid = Seq("C", "CCO", "C1CCCCC1", "CC(=O)O", "c1ccccc1",
      "[Na+].[Cl-]", "C%10CCCCC%10", "N#C", "CC(C)(C)C", "ClCCl", "BrC=C")
    val invalid = Seq("", "C1CC", "CC(", "CC)", "[Xx]", "C=", "Q", "[C", "1CC")
    valid.foreach(s => assert(Chemistry.isValid(s), s"expected valid: $s"))
    invalid.foreach(s => assert(!Chemistry.isValid(s), s"expected invalid: $s"))
  }

  test("molecular weight: alkanes, ethanol, benzene, acetic acid, salt") {
    assert(mw("C") === 16.043)            // CH4
    assert(mw("CC") === 30.07)            // C2H6
    assert(mw("CCO") === 46.069)          // ethanol C2H6O
    assert(mw("c1ccccc1") === 78.114)     // benzene C6H6
    assert(mw("CC(=O)O") === 60.052)      // acetic acid
    assert(mw("[Na+].[Cl-]") === 58.443)  // NaCl
    assert(mw("N#N") === 28.014)          // N2 (triple bond, no H)
  }

  test("salt strip keeps largest fragment deterministically") {
    assert(Chemistry.stripSalt("CCO.[Na+]") === "CCO")
    assert(Chemistry.stripSalt("CCCC.CC") === "CCCC")
    assert(Chemistry.stripSalt("CCO") === "CCO")
  }

  test("normalize drops stereo and isotopes") {
    assert(Chemistry.normalize("C[C@H](N)C(=O)O") === "C[CH](N)C(=O)O")
    assert(Chemistry.normalize("[13C]CO") === "[C]CO")
    assert(Chemistry.normalize("F/C=C/F") === "FC=CF")
  }

  test("descriptors: proxies follow documented constants") {
    val d = Chemistry.descriptors("CC(=O)O").get
    assert(d.carbons === 2 && d.oxygens === 2)
    assert(d.logP === -0.3)   // 0.5*2 - 0.65*2
    assert(d.tpsa === 34.2)   // 2 * 17.1
    assert(d.hbd === 1)       // the hydroxyl O
    assert(d.hba === 2)
    assert(d.lipinskiOk)
  }

  test("fingerprints are deterministic and respond to structure") {
    val a = Chemistry.morganBits("CCO").get
    val b = Chemistry.morganBits("CCO").get
    val c = Chemistry.morganBits("CCN").get
    assert(a.sameElements(b))
    assert(!a.sameElements(c))
    assert(Chemistry.structuralKeys("CC(=O)O").get.contains(7)) // double bond key
  }

  test("morganBits equals the reference fingerprint on a fixed corpus, all radii and widths") {
    for (s <- fingerprintCorpus; r <- radii; nBits <- widths)
      assert(sameBits(s, r, nBits), s"morganBits($s, $r, $nBits)")
    assert(Chemistry.morganBits("CCO").map(_.toSeq) ==
      Oracle.morganBits("CCO", 2, 1024).map(_.toSeq), "default radius and width")
    val invalid = fingerprintCorpus.filterNot(Chemistry.isValid)
    assert(invalid.size === 12)
    invalid.foreach(s => assert(Chemistry.morganBits(s).isEmpty, s"None for $s"))
  }

  test("property: morganBits equals the reference fingerprint on generated SMILES") {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300),
      Prop.forAll(validSmilesGen) { s =>
        Chemistry.isValid(s) && radii.forall(r => widths.forall(n => sameBits(s, r, n)))
      })
    assert(res.passed, s"morganBits vs reference: $res")
  }

  /** Strings the kernel must treat exactly as the oracle does: salts
    * with atom-count ties, empty fragments, `%nn` and non-ASCII ring
    * digits, bracket edge cases (aromatic two-letter symbols, isotopes,
    * charges, Unicode lowercase letters whose upper case is a symbol),
    * unclosed brackets, a `]` only in a later fragment, and every
    * structural-alert motif.
    */
  private val edgeCorpus: Seq[String] = Seq(
    "CC.OO", "OO.CC", "CCO.OCC", "[Na+].[Cl-]", "N.C.O", "C(=O)O.OC=O", "C1CC.CCC",
    "C1CC.CC", "Q.QQ", "C.", ".C", "..", ".", "", null, "C..C", "CC..C.",
    "C%99CC%99", "C%10%11CC%10C%11", "C%1a", "C١CC١", "C%١٢CC%١٢",
    "C５CC５", "C٥", "[٣C]", "[C١]", "[CH٢]", "[C+٣]",
    "[se]", "[Se]", "[13CH]", "[N+]", "[O--]", "[N++]", "[Fe+++]", "[C+2]", "[O-2]", "[NH4+]",
    "*", "[*]", "C*C", "[*H2]", "c1cc*cc1", "[ſ]", "[ı]", "[ß]", "[h]", "[k]",
    "[C", "C[", "[]", "[12]", "[C@@H](F)(Cl)Br", "[CH3.C]", "C[C.N]C", "[NH4.C]N", "CC.[N+.O]",
    "C(.C)C", "C1.C1", "C=.C", "C(=C)", "C=(C)C", "CC(C", "C)C", "C1CC1C1", "C11", "C=1CC1",
    "C-1CC=1", "c1ccccc1", "C:C", "C/C=C\\C", "F\\C=C/F", "[13C@@H]([2H])O", "[@13C]", "[1@3C]",
    "C[/13C]", "Br[Br]Cl", "BrC", "Clc1ccccc1", "Cl", "B", "Br", "bB", "cl", "Cc1ccc(Cl)cc1.[K+]",
    "N=N", "CN=NC", "c1ccc(O)c(O)c1", "C=CC(=O)", "C=CC(=O)C", "[N+](=O)[O-]",
    "c1ccc(cc1)[N+](=O)[O-]", "C=CC(=O)C=C", "O=C1C=CC(=O)C=C1", "C(=S)", "NC(=S)N",
    "C" * 30, "C" * 21)

  private def allEqual(s: String): Option[String] = {
    def diff[T](what: String, got: T, want: T): Option[String] =
      if (got == want) None else Some(s"$what($s): $got != $want")
    Seq(
      diff("isValid", Chemistry.isValid(s), Oracle.isValid(s)),
      diff("molecularWeight", Chemistry.molecularWeight(s), Oracle.molecularWeight(s)),
      diff("descriptors", Chemistry.descriptors(s), Oracle.descriptors(s)),
      diff("structuralKeys", Chemistry.structuralKeys(s).map(_.toSeq),
        Oracle.structuralKeys(s).map(_.toSeq)),
      if (s == null) None else diff("stripSalt", Chemistry.stripSalt(s), Oracle.stripSalt(s)),
      if (s == null) None else diff("normalize", Chemistry.normalize(s), Oracle.normalize(s)))
      .flatten.headOption
      .orElse(radii.flatMap(r => widths.filterNot(n => sameBits(s, r, n))
        .map(n => s"morganBits($s, $r, $n)")).headOption)
  }

  /** Arbitrary strings over the SMILES alphabet plus non-ASCII letters
    * and digits (Unicode lower case, letters whose upper case is ASCII,
    * Arabic-Indic, fullwidth and Bengali digits).
    */
  private val arbitraryGen: Gen[String] = {
    val alphabet = "CNOSPFIBrcnospbl[]()=#-+:/\\@%.*0123456789H" +
      "éſıßΩω١٣５১"
    Gen.listOf(Gen.oneOf(alphabet.toSeq)).map(_.take(24).mkString)
  }

  test("every chemistry function equals the oracle on the edge corpus") {
    for (s <- edgeCorpus ++ fingerprintCorpus) allEqual(s).foreach(m => fail(m))
  }

  test("property: every chemistry function equals the oracle on generated valid SMILES") {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300),
      Prop.forAll(validSmilesGen) { s => Chemistry.isValid(s) && allEqual(s).isEmpty })
    assert(res.passed, s"kernel vs oracle: $res")
  }

  test("property: every chemistry function equals the oracle on arbitrary strings") {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(3000),
      Prop.forAll(arbitraryGen) { s => allEqual(s).isEmpty })
    assert(res.passed, s"kernel vs oracle: $res")
  }

  test("one kernel reused across strings gives each string's own results") {
    val k = new Chemistry.Kernel
    val inputs = edgeCorpus.filter(_ != null) ++ Gen.listOfN(200, validSmilesGen).sample.get
    for (s <- inputs ++ inputs.reverse) {
      assert(k.parse(s) === Oracle.isValid(s), s)
      if (k.parse(s)) {
        assert(k.molecularWeight == Oracle.molecularWeight(s).get, s)
        assert(k.morganBits(2, 1024).toSeq === Oracle.morganBits(s, 2, 1024).get.toSeq, s)
      }
      assert(k.normalize(s) === Oracle.normalize(s), s)
    }
  }

  test("NULL input: booleans false, other results NULL, nothing fails") {
    graft.engine.Functions.registerAll(spark)
    val df = spark.sql(
      """SELECT is_valid_smiles(s), lipinski_ok(s), molecular_weight(s), log_p(s),
        |  smiles_logp(s), tpsa(s), smiles_tpsa(s), morgan_fp(s), structural_keys(s),
        |  normalize_smiles(s), strip_salt(s)
        |FROM VALUES (CAST(NULL AS STRING)) AS t(s)""".stripMargin)
    val r = df.collect().head
    assert(!r.getBoolean(0) && !r.getBoolean(1))
    (2 until 11).foreach(i => assert(r.isNullAt(i), df.columns(i)))
    assert(!df.schema(0).nullable && !df.schema(1).nullable)
    assert(Chemistry.normalize(null) === null && Chemistry.stripSalt(null) === null)
  }

  /** The chemistry SQL names registered as the earlier Scala UDFs over
    * the oracle, except that `normalize_smiles` and `strip_salt` map
    * NULL to NULL instead of failing.
    */
  private val oracleUdfs: Seq[(String, UserDefinedFunction)] = Seq(
    "is_valid_smiles" -> udf((s: String) => Oracle.isValid(s)),
    "lipinski_ok" -> udf((s: String) => Oracle.descriptors(s).exists(_.lipinskiOk)),
    "molecular_weight" -> udf((s: String) => Oracle.molecularWeight(s)),
    "log_p" -> udf((s: String) => Oracle.descriptors(s).map(_.logP)),
    "smiles_logp" -> udf((s: String) => Oracle.descriptors(s).map(_.logP)),
    "tpsa" -> udf((s: String) => Oracle.descriptors(s).map(_.tpsa)),
    "smiles_tpsa" -> udf((s: String) => Oracle.descriptors(s).map(_.tpsa)),
    "normalize_smiles" -> udf((s: String) => if (s == null) null else Oracle.normalize(s)),
    "strip_salt" -> udf((s: String) => if (s == null) null else Oracle.stripSalt(s)),
    "morgan_fp" -> udf((s: String) => Oracle.morganBits(s, 2, 1024)),
    "structural_keys" -> udf((s: String) => Oracle.structuralKeys(s)))

  private val columnForms: Map[String, Column => Column] = Map(
    "is_valid_smiles" -> Chemistry.is_valid_smiles, "lipinski_ok" -> Chemistry.lipinski_ok,
    "molecular_weight" -> Chemistry.molecular_weight, "log_p" -> Chemistry.log_p,
    "tpsa" -> Chemistry.tpsa, "normalize_smiles" -> Chemistry.normalize_smiles,
    "strip_salt" -> Chemistry.strip_salt, "morgan_fp" -> Chemistry.morgan_fp,
    "structural_keys" -> Chemistry.structural_keys)

  test("SQL and Column forms equal the oracle UDFs: rows and schema, with and without codegen") {
    import spark.implicits._
    val dir = tmpDir("chem_forms")
    val smiles = edgeCorpus ++ fingerprintCorpus ++ Gen.listOfN(60, validSmilesGen).sample.get ++
      Gen.listOfN(60, arbitraryGen).sample.get
    smiles.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "s")
      .write.mode("overwrite").parquet(dir)
    graft.engine.Functions.registerAll(spark)
    val oracle = spark.newSession()
    oracleUdfs.foreach { case (n, f) => oracle.udf.register(n, f) }
    val sql = oracleUdfs.map(_._1).mkString("SELECT id, ", "(s), ", s"(s) FROM parquet.`$dir` ORDER BY id")
    def columns(session: SparkSession, forms: Seq[(String, Column => Column)]): DataFrame =
      session.read.parquet(dir).select(col("id") +: forms.map { case (_, f) => f(col("s")) }: _*)
        .orderBy("id")
    val oracleColumns = oracleUdfs.filter(u => columnForms.contains(u._1))
      .map { case (n, f) => n -> ((c: Column) => f.withName(n)(c)) }
    val nativeColumns = oracleColumns.map { case (n, _) => n -> columnForms(n) }
    def check(mode: String): Unit = {
      val pairs = Seq(
        "SQL" -> (spark.sql(sql), oracle.sql(sql)),
        "Column" -> (columns(spark, nativeColumns), columns(oracle, oracleColumns)))
      pairs.foreach { case (form, (got, want)) =>
        assert(got.schema === want.schema, s"$form schema, $mode")
        assert(got.collect().toSeq === want.collect().toSeq, s"$form rows, $mode")
        val plan = got.queryExecution.analyzed
        def uses(cls: Class[_]) = plan.exists(_.expressions.exists(_.exists(cls.isInstance)))
        assert(uses(classOf[ChemistryExpr]) && !uses(classOf[ScalaUDF]), s"$form plan")
      }
    }
    check("default codegen")
    val conf = spark.conf
    val prevWhole = conf.get("spark.sql.codegen.wholeStage", "true")
    val prevFactory = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try check("NO_CODEGEN")
    finally {
      conf.set("spark.sql.codegen.wholeStage", prevWhole)
      conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  test("SQL morgan_fp and the Column morgan_fp return the reference bits") {
    import spark.implicits._
    graft.engine.Functions.registerAll(spark)
    val smiles = fingerprintCorpus.filter(_ != null) ++
      Gen.listOfN(50, validSmilesGen).sample.get
    val df = smiles.toDF("smiles")
    df.createOrReplaceTempView("fp_smiles")
    def bits(rows: Array[org.apache.spark.sql.Row]): Map[String, Option[Seq[Int]]] =
      rows.map(r => r.getString(0) -> Option(r.getSeq[Int](1)).map(_.toSeq)).toMap
    val viaSql = bits(spark.sql("SELECT smiles, morgan_fp(smiles) FROM fp_smiles").collect())
    val viaCol = bits(df.select($"smiles", Chemistry.morgan_fp($"smiles")).collect())
    val want = smiles.map(s => s -> Oracle.morganBits(s, 2, 1024).map(_.toSeq)).toMap
    assert(viaSql === want)
    assert(viaCol === want)
  }

  test("UDFs run in a Spark plan") {
    import spark.implicits._
    val df = Seq("CCO", "bad(", "c1ccccc1").toDF("smiles")
    val got = df.select(
      Chemistry.is_valid_smiles($"smiles").as("v"),
      Chemistry.molecular_weight($"smiles").as("mw")).collect()
    assert(got.map(_.getBoolean(0)).toSeq === Seq(true, false, true))
    assert(math.abs(got(0).getDouble(1) - 46.069) < 1e-9)
  }

  /** Per-alert rejection (the q78 Gopher-gate pattern): every alert in
    * the table has a molecule that triggers it and only it — except
    * the quinone, which legitimately also triggers the Michael-
    * acceptor motif — and drug-like molecules trigger nothing.
    */
  test("structural alerts: each motif fires on its molecule, clean molecules pass") {
    import spark.implicits._
    val fixtures = Seq(
      ("CN=NC", "azo"),
      ("c1ccc(O)c(O)c1", "catechol"),
      ("C=CC(=O)C", "michael_acceptor"),
      ("c1ccc(cc1)[N+](=O)[O-]", "nitro"),
      ("O=C1C=CC(=O)C=C1", "michael_acceptor,quinone"),
      ("NC(=S)N", "thiocarbonyl"),
      ("C1CCCCC1", ""), ("CC(=O)O", ""), ("[Na+].[Cl-]", ""), ("CCO", ""))
    val got = fixtures.map(_._1).toDF("smiles")
      .select($"smiles", Chemistry.structural_alerts_csv($"smiles").as("alerts"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    fixtures.foreach { case (s, want) =>
      assert(got(s) === want, s"alerts for $s")
    }
  }

  test("composed PAINS+Lipinski gate: alerts reject, Lipinski rejects, clean+drug-like passes") {
    import spark.implicits._
    val rows = Seq(
      "NC(=S)N",        // alert → rejected even though small
      "C" * 30,         // clean but logP proxy 15 > 5 → Lipinski reject
      "C1CCCCC1",       // clean + drug-like → pass
      "CC(=O)O")        // clean + drug-like → pass
      .toDF("smiles")
      .select($"smiles",
        Chemistry.pains_ok($"smiles").as("p"),
        Chemistry.pains_lipinski_gate($"smiles").as("g"))
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2)))
    assert(rows.map(r => (r._2, r._3)).toSeq ===
      Seq((false, false), (true, false), (true, true), (true, true)))
  }
}

object ChemistrySpec {

  /** The earlier chemistry implementation: one `Atom` object per atom
    * with `List` neighbours, a fresh parse per function, and the
    * fingerprint built with immutable shell sets and one fresh string
    * per environment. The kernel must return exactly its results.
    */
  object Oracle {
    private val weights = Map(
      "H" -> 1.008, "B" -> 10.811, "C" -> 12.011, "N" -> 14.007,
      "O" -> 15.999, "F" -> 18.998, "Na" -> 22.990, "Mg" -> 24.305,
      "Si" -> 28.086, "P" -> 30.974, "S" -> 32.06, "Cl" -> 35.453,
      "K" -> 39.098, "Ca" -> 40.078, "Fe" -> 55.845, "Zn" -> 65.38,
      "Se" -> 78.971, "Br" -> 79.904, "I" -> 126.904)

    private val defaultValence = Map(
      "B" -> 3, "C" -> 4, "N" -> 3, "O" -> 2, "P" -> 3, "S" -> 2,
      "F" -> 1, "Cl" -> 1, "Br" -> 1, "I" -> 1, "H" -> 1)

    final case class Atom(
        symbol: String, aromatic: Boolean, bracket: Boolean,
        explicitH: Int, charge: Int) {
      var bondOrderSum: Double = 0.0
      var neighbors: List[Int] = Nil
    }

    final case class Mol(atoms: Vector[Atom], ringBonds: Int)

    /** Minimal SMILES parser for the organic + bracket-atom subset.
      * Returns None on any structural error (unknown element, unbalanced
      * branches/brackets, unmatched ring closures, dangling bond).
      */
    def parse(smiles: String): Option[Mol] = {
      if (smiles == null || smiles.isEmpty) return None
      val atoms = scala.collection.mutable.ArrayBuffer.empty[Atom]
      var prev: Int = -1
      var pendingBond: Double = 1.0
      var pendingBondSet = false
      val branchStack = scala.collection.mutable.Stack.empty[Int]
      val rings = scala.collection.mutable.Map.empty[Int, (Int, Double)]
      var ringBonds = 0
      var i = 0
      val s = smiles

      def addAtom(a: Atom): Unit = {
        atoms += a
        val idx = atoms.length - 1
        if (prev >= 0) {
          val order = if (pendingBondSet) pendingBond
            else if (atoms(prev).aromatic && a.aromatic) 1.5 else 1.0
          atoms(prev).bondOrderSum += order
          atoms(idx).bondOrderSum += order
          atoms(prev).neighbors ::= idx
          atoms(idx).neighbors ::= prev
        }
        prev = idx
        pendingBond = 1.0
        pendingBondSet = false
      }

      def closeRing(n: Int): Boolean = {
        rings.get(n) match {
          case Some((other, order)) =>
            if (other == prev) return false
            val o = if (pendingBondSet) pendingBond else order
            atoms(prev).bondOrderSum += o
            atoms(other).bondOrderSum += o
            atoms(prev).neighbors ::= other
            atoms(other).neighbors ::= prev
            rings.remove(n)
            ringBonds += 1
            pendingBond = 1.0; pendingBondSet = false
            true
          case None =>
            if (prev < 0) return false
            rings(n) = (prev, if (pendingBondSet) pendingBond else 1.0)
            pendingBond = 1.0; pendingBondSet = false
            true
        }
      }

      while (i < s.length) {
        val c = s.charAt(i)
        c match {
          case '[' =>
            val end = s.indexOf(']', i)
            if (end < 0) return None
            val body = s.substring(i + 1, end)
            var j = 0
            while (j < body.length && body.charAt(j).isDigit) j += 1 // isotope
            if (j >= body.length) return None
            val aromatic = body.charAt(j).isLower
            var sym =
              if (j + 1 < body.length && body.charAt(j + 1).isLower
                && weights.contains(body.substring(j, j + 2).capitalize)
                && !aromatic)
                body.substring(j, j + 2)
              else body.charAt(j).toString
            j += sym.length
            val symbol = sym.capitalize
            if (!weights.contains(symbol) && symbol != "*") return None
            var explicitH = 0
            var charge = 0
            while (j < body.length) {
              body.charAt(j) match {
                case '@' => j += 1
                case 'H' =>
                  j += 1
                  if (j < body.length && body.charAt(j).isDigit) {
                    explicitH = body.charAt(j) - '0'; j += 1
                  } else explicitH = 1
                case '+' =>
                  j += 1
                  if (j < body.length && body.charAt(j).isDigit) {
                    charge += body.charAt(j) - '0'; j += 1
                  } else { charge += 1; while (j < body.length && body.charAt(j) == '+') { charge += 1; j += 1 } }
                case '-' =>
                  j += 1
                  if (j < body.length && body.charAt(j).isDigit) {
                    charge -= body.charAt(j) - '0'; j += 1
                  } else { charge -= 1; while (j < body.length && body.charAt(j) == '-') { charge -= 1; j += 1 } }
                case _ => return None
              }
            }
            addAtom(Atom(symbol, aromatic, bracket = true, explicitH, charge))
            i = end + 1
          case 'C' if i + 1 < s.length && s.charAt(i + 1) == 'l' =>
            addAtom(Atom("Cl", aromatic = false, bracket = false, 0, 0)); i += 2
          case 'B' if i + 1 < s.length && s.charAt(i + 1) == 'r' =>
            addAtom(Atom("Br", aromatic = false, bracket = false, 0, 0)); i += 2
          case 'B' | 'C' | 'N' | 'O' | 'P' | 'S' | 'F' | 'I' =>
            addAtom(Atom(c.toString, aromatic = false, bracket = false, 0, 0)); i += 1
          case 'b' | 'c' | 'n' | 'o' | 'p' | 's' =>
            addAtom(Atom(c.toUpper.toString, aromatic = true, bracket = false, 0, 0)); i += 1
          case '-' => pendingBond = 1.0; pendingBondSet = true; i += 1
          case '=' => pendingBond = 2.0; pendingBondSet = true; i += 1
          case '#' => pendingBond = 3.0; pendingBondSet = true; i += 1
          case ':' => pendingBond = 1.5; pendingBondSet = true; i += 1
          case '/' | '\\' => pendingBond = 1.0; pendingBondSet = true; i += 1
          case '(' =>
            if (prev < 0) return None
            branchStack.push(prev); i += 1
          case ')' =>
            if (branchStack.isEmpty) return None
            prev = branchStack.pop(); i += 1
          case '.' =>
            prev = -1; pendingBond = 1.0; pendingBondSet = false; i += 1
          case '%' =>
            if (i + 2 >= s.length || !s.charAt(i + 1).isDigit || !s.charAt(i + 2).isDigit)
              return None
            if (prev < 0 || !closeRing((s.charAt(i + 1) - '0') * 10 + (s.charAt(i + 2) - '0')))
              return None
            i += 3
          case d if d.isDigit =>
            if (prev < 0 || !closeRing(d - '0')) return None
            i += 1
          case _ => return None
        }
      }
      if (branchStack.nonEmpty || rings.nonEmpty || pendingBondSet || atoms.isEmpty)
        None
      else Some(Mol(atoms.toVector, ringBonds))
    }

    /** Implicit hydrogens from the standard-valence model; aromatic
      * atoms contribute their 1.5-order bonds rounded up (benzene carbon:
      * 3 aromatic neighbors would double-count, so ⌈sum⌉ with a minimum
      * of one π adjustment — exact for plain chains/rings, documented
      * approximation for fused aromatics).
      */
    private def implicitH(a: Atom): Int =
      if (a.bracket) 0 // bracket atoms carry explicit H counts by SMILES rules
      else defaultValence.get(a.symbol) match {
        case Some(v) => math.max(0, v - math.ceil(a.bondOrderSum).toInt)
        case None => 0
      }

    def isValid(smiles: String): Boolean = parse(smiles).isDefined

    /** Molecular weight (g/mol) over parsed atoms + implicit/explicit H. */
    def molecularWeight(smiles: String): Option[Double] = parse(smiles).map { m =>
      m.atoms.map { a =>
        weights.getOrElse(a.symbol, 0.0) +
          (implicitH(a) + a.explicitH) * weights("H")
      }.sum
    }

    /** Keep the largest `.`-separated fragment (salt strip); ties break
      * to the lexicographically smallest fragment for determinism.
      */
    def stripSalt(smiles: String): String = {
      val frags = smiles.split("\\.").filter(_.nonEmpty)
      if (frags.length <= 1) smiles
      else frags.sortBy(f => (-parse(f).map(_.atoms.length).getOrElse(0), f)).head
    }

    private val isotopePrefix = java.util.regex.Pattern.compile("\\[(\\d+)")

    /** Deterministic normalization for dedup keys: salt strip + drop
      * stereo (@, /, \\) and isotope digits inside brackets. NOT a true
      * canonical SMILES (no Morgan relabeling) — documented approximation.
      */
    def normalize(smiles: String): String = {
      val base = stripSalt(smiles)
      isotopePrefix.matcher(
        base.replace("@", "").replace("/", "").replace("\\", "")).replaceAll("[")
    }

    private val halogens = Set("F", "Cl", "Br", "I")

    /** Descriptor block; logP is a Crippen-flavored per-atom proxy and
      * TPSA a per-heteroatom contribution proxy (documented constants).
      */
    def descriptors(smiles: String): Option[Chemistry.Descriptors] = parse(smiles).map { m =>
      val atoms = m.atoms
      def cnt(sym: String) = atoms.count(_.symbol == sym)
      val c = cnt("C"); val n = cnt("N"); val o = cnt("O")
      val hal = atoms.count(a => halogens(a.symbol))
      val s = cnt("S")
      val hbd = atoms.count(a =>
        (a.symbol == "N" || a.symbol == "O") && (implicitH(a) + a.explicitH) > 0)
      val hba = n + o
      val mw = atoms.map(a => weights.getOrElse(a.symbol, 0.0)
        + (implicitH(a) + a.explicitH) * weights("H")).sum
      val logP = 0.5 * c + 0.35 * hal + 0.18 * s - 0.65 * (n + o) -
        0.4 * atoms.map(_.charge).map(math.abs).sum
      val tpsa = 20.3 * n + 17.1 * o + 8.4 * s
      Chemistry.Descriptors(mw, atoms.length, c, n, o, hal, m.ringBonds, hbd, hba,
        math.rint(logP * 1000) / 1000, math.rint(tpsa * 1000) / 1000,
        mw <= 500 && logP <= 5 && hbd <= 5 && hba <= 10)
    }

    /** MACCS-flavored structural key bits from substructure heuristics. */
    def structuralKeys(smiles: String): Option[Array[Int]] = parse(smiles).map { m =>
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      def has(sym: String) = m.atoms.exists(_.symbol == sym)
      if (has("C")) out += 0
      if (has("N")) out += 1
      if (has("O")) out += 2
      if (has("S")) out += 3
      if (m.atoms.exists(a => halogens(a.symbol))) out += 4
      if (m.ringBonds > 0) out += 5
      if (m.atoms.exists(_.aromatic)) out += 6
      if (m.atoms.exists(_.bondOrderSum >= 2.0)) out += 7
      if (m.atoms.exists(_.charge != 0)) out += 8
      if (m.atoms.length > 20) out += 9
      out.toArray
    }

    def morganBits(smiles: String, radius: Int, nBits: Int): Option[Array[Int]] =
      parse(smiles).map { m =>
        val envs = scala.collection.mutable.ArrayBuffer.empty[String]
        m.atoms.indices.foreach { i =>
          var shell = Set(i)
          var repr = m.atoms(i).symbol
          envs += repr
          (1 to radius).foreach { _ =>
            val next = shell.flatMap(j => m.atoms(j).neighbors).toSet ++ shell
            repr = repr + "|" +
              next.toSeq.map(j => m.atoms(j).symbol).sorted.mkString("")
            envs += repr
            shell = next
          }
        }
        envs.map(e => math.floorMod(scala.util.hashing.MurmurHash3.stringHash(e), nBits))
          .distinct.sorted.toArray
      }
  }
}
