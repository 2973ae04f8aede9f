package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.Chemistry

/** Chemistry UDF algorithm tests: hand-computed expected values
  * (weights: C 12.011, H 1.008, O 15.999, N 14.007).
  */
class ChemistrySpec extends SparkSpec {

  /** Reference oracle for [[Chemistry.morganBits]]: the fingerprint
    * built with immutable shell sets and one fresh string per
    * environment. The kernel must return exactly these bits.
    */
  private def morganBitsReference(smiles: String, radius: Int, nBits: Int): Option[Array[Int]] =
    Chemistry.parse(smiles).map { m =>
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
      morganBitsReference(s, radius, nBits).map(_.toSeq)

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
      morganBitsReference("CCO", 2, 1024).map(_.toSeq), "default radius and width")
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
    val want = smiles.map(s => s -> morganBitsReference(s, 2, 1024).map(_.toSeq)).toMap
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
