package graft.engine

import org.apache.spark.sql.functions._
import graft.functions.Chemistry
import graft.sources.SdfReader

/** Molecule-domain surface: chemistry UDFs (validity, molecular weight,
  * descriptor proxies) and the SDF property parser, oracle-checked by
  * DERIVING deterministic SMILES / SDF text from the `part` table and
  * comparing against independently hand-computed closed-form values in
  * the oracle SQL. This cross-checks the Scala implementations (parser,
  * valence model, descriptor constants) without the oracle ever calling
  * them.
  */
object MoleculeQueries {
  import QueryDef._
  import Tables._

  // deterministic SMILES per part row: mix of alkanes, a ring, an acid,
  // a salt, and two malformed strings
  private val smilesSql =
    """CASE p_partkey % 6
      |  WHEN 0 THEN repeat('C', (p_size % 10) + 1) || '('
      |  WHEN 1 THEN 'C1CCCCC1'
      |  WHEN 2 THEN 'CC(=O)O'
      |  WHEN 3 THEN 'C1CC'
      |  WHEN 4 THEN '[Na+].[Cl-]'
      |  ELSE repeat('C', (p_size % 10) + 1) END""".stripMargin

  // Native Column construction mirroring smilesSql (the raw string is
  // DuckDB-dialect oracle text; parsing it with Spark's parser coupled
  // the two dialects on incidental syntax overlap)
  private def smilesCol = {
    val m = col("p_partkey") % 6
    val alkane = repeat(lit("C"), (col("p_size") % 10 + 1).cast("int"))
    when(m === 0, concat(alkane, lit("(")))
      .when(m === 1, lit("C1CCCCC1"))
      .when(m === 2, lit("CC(=O)O"))
      .when(m === 3, lit("C1CC"))
      .when(m === 4, lit("[Na+].[Cl-]"))
      .otherwise(alkane)
  }

  // q111 fixture: deterministic SMILES spelled so each PAINS motif is a
  // literal substring — six alert-bearing molecules (azo, catechol,
  // Michael acceptor, nitroaromatic, quinone, thiourea), three
  // drug-like clean ones, and one clean-but-Lipinski-failing alkane
  // (C30: logP proxy 0.5·30 = 15 > 5) that separates the PAINS gate
  // from the composed PAINS+Lipinski gate.
  private def alertSmilesCol = {
    val m = col("p_partkey") % 10
    when(m === 0, lit("CN=NC"))
      .when(m === 1, lit("c1ccc(O)c(O)c1"))
      .when(m === 2, lit("C=CC(=O)C"))
      .when(m === 3, lit("c1ccc(cc1)[N+](=O)[O-]"))
      .when(m === 4, lit("O=C1C=CC(=O)C=C1"))
      .when(m === 5, lit("NC(=S)N"))
      .when(m === 6, lit("C1CCCCC1"))
      .when(m === 7, lit("CC(=O)O"))
      .when(m === 8, lit("[Na+].[Cl-]"))
      .otherwise(repeat(lit("C"), 30))
  }

  private val alertSmilesSql =
    """CASE p_partkey % 10
      |  WHEN 0 THEN 'CN=NC'
      |  WHEN 1 THEN 'c1ccc(O)c(O)c1'
      |  WHEN 2 THEN 'C=CC(=O)C'
      |  WHEN 3 THEN 'c1ccc(cc1)[N+](=O)[O-]'
      |  WHEN 4 THEN 'O=C1C=CC(=O)C=C1'
      |  WHEN 5 THEN 'NC(=S)N'
      |  WHEN 6 THEN 'C1CCCCC1'
      |  WHEN 7 THEN 'CC(=O)O'
      |  WHEN 8 THEN '[Na+].[Cl-]'
      |  ELSE repeat('C', 30) END""".stripMargin

  val all: Seq[QueryDef] = Seq(

    sql("q46_smiles_validity",
      s"""SELECT p_partkey, ($smilesSql) AS smiles,
         | (p_partkey % 6) NOT IN (0, 3) AS valid
         |FROM part ORDER BY p_partkey""".stripMargin) {
      (s, d) =>
        part(s, d)
          .withColumn("smiles", smilesCol)
          .select(col("p_partkey"), col("smiles"),
            Chemistry.is_valid_smiles(col("smiles")).as("valid"))
          .orderBy(col("p_partkey"))
    },

    // MW oracle: alkane CnH2n+2 = n·12.011 + (2n+2)·1.008; fixed
    // molecules hand-computed (cyclohexane 84.162, acetic acid 60.052,
    // NaCl 58.443). Exact at 3 decimals because all weights carry
    // exactly three.
    sql("q47_molecular_weight",
      s"""SELECT p_partkey,
         | round(CAST(CASE p_partkey % 6
         |  WHEN 1 THEN 84.162
         |  WHEN 2 THEN 60.052
         |  WHEN 4 THEN 58.443
         |  ELSE ((p_size % 10) + 1) * 12.011 + (2 * ((p_size % 10) + 1) + 2) * 1.008
         | END AS DOUBLE), 3) AS mw
         |FROM part WHERE (p_partkey % 6) NOT IN (0, 3)
         |ORDER BY p_partkey""".stripMargin) {
      (s, d) =>
        part(s, d)
          .withColumn("smiles", smilesCol)
          .filter(Chemistry.is_valid_smiles(col("smiles")))
          .select(col("p_partkey"),
            round(Chemistry.molecular_weight(col("smiles")), 3).as("mw"))
          .orderBy(col("p_partkey"))
    },

    // Descriptor proxies: logP = 0.5·C + 0.35·hal + 0.18·S − 0.65·(N+O)
    // − 0.4·Σ|charge|; TPSA = 20.3·N + 17.1·O + 8.4·S (documented
    // constants, hand-applied per fixed molecule in the oracle).
    sql("q48_descriptors",
      s"""SELECT p_partkey,
         | round(CAST(CASE p_partkey % 6
         |  WHEN 1 THEN 3.0
         |  WHEN 2 THEN -0.3
         |  WHEN 4 THEN -0.45
         |  ELSE 0.5 * ((p_size % 10) + 1) END AS DOUBLE), 3) AS logp,
         | round(CAST(CASE p_partkey % 6
         |  WHEN 2 THEN 34.2
         |  ELSE 0.0 END AS DOUBLE), 3) AS tpsa
         |FROM part WHERE (p_partkey % 6) NOT IN (0, 3)
         |ORDER BY p_partkey""".stripMargin) {
      (s, d) =>
        part(s, d)
          .withColumn("smiles", smilesCol)
          .filter(Chemistry.is_valid_smiles(col("smiles")))
          .select(col("p_partkey"),
            round(Chemistry.log_p(col("smiles")), 3).as("logp"),
            round(Chemistry.tpsa(col("smiles")), 3).as("tpsa"))
          .orderBy(col("p_partkey"))
    },

    // Integration: molecule near-dup via normalized-SMILES fingerprint
    // groups + Morgan-bit overlap inside each group — the chemistry
    // functions feeding the dedup machinery, now under a FULL contract
    // oracle (the q61/q73 pattern, retiring the last rows-only trio):
    //  - norm / n_members / keeper are EXACT: the synthetic SMILES per
    //    p_partkey % 6 class normalize deterministically (salt strip
    //    keeps the largest fragment, ties to the lexicographically
    //    smallest — '[Na+].[Cl-]' → '[Cl-]'; stereo/isotope stripping
    //    is a no-op here), so the oracle hand-applies the same mapping
    //    and recomputes the groups relationally;
    //  - the Morgan OR-profile is engine-internal, so its CONTRACT is
    //    checked instead: bits_pos (every group profile has ≥ 1 bit)
    //    and profile_superset_ok (every member's fingerprint is a
    //    subset of its group's OR-profile — an independent recompute
    //    of each member fp against the FingerprintAgg aggregate).
    //    The raw bit layout stays spec'd in ChemistrySpec.
    sql("q65_molecule_neardup",
      """WITH mols AS (
        | SELECT p_partkey,
        |  CASE p_partkey % 6 WHEN 1 THEN 'C1CCCCC1' WHEN 2 THEN 'CC(=O)O'
        |    WHEN 4 THEN '[Cl-]' ELSE repeat('C', (p_size % 10) + 1) END AS norm
        | FROM part WHERE (p_partkey % 6) NOT IN (0, 3))
        |SELECT norm, count(*) AS n_members, min(p_partkey) AS keeper,
        | TRUE AS bits_pos, TRUE AS profile_superset_ok
        |FROM mols GROUP BY norm ORDER BY norm""".stripMargin) { (s, d) =>
      import graft.functions.Chemistry
      val mols = part(s, d)
        .withColumn("smiles", smilesCol)
        .filter(Chemistry.is_valid_smiles(col("smiles")))
        .select(col("p_partkey"),
          Chemistry.normalize_smiles(col("smiles")).as("norm"),
          Chemistry.morgan_fp(col("smiles")).as("fp"))
      val prof = mols.groupBy(col("norm"))
        .agg(count(lit(1)).as("n_members"), min("p_partkey").as("keeper"),
          graft.functions.FingerprintAgg.fingerprint_or(col("fp")).as("profile"))
      mols.join(prof, "norm")
        .groupBy(col("norm"), col("n_members"), col("keeper"), col("profile"))
        .agg(bool_and(size(array_except(col("fp"), col("profile"))) === 0)
          .as("profile_superset_ok"))
        .select(col("norm"), col("n_members"), col("keeper"),
          (size(col("profile")) > 0).as("bits_pos"), col("profile_superset_ok"))
        .orderBy(col("norm"))
    },

    // SDF property-block parse round-trip (S2): SDF text is synthesized
    // from part columns, parsed by sdfProps, and the extracted tags must
    // equal the original columns.
    sql("q49_sdf_props_roundtrip",
      """SELECT p_partkey, CAST(p_partkey AS VARCHAR) AS id_tag,
        | p_name AS name_tag, p_type AS type_tag
        |FROM part ORDER BY p_partkey""".stripMargin) {
      (s, d) =>
        val sdfText = concat(
          lit("mol\n  comment\n\nM  END\n> <PKEY>\n"), col("p_partkey").cast("string"),
          lit("\n\n> <PNAME>\n"), col("p_name"),
          lit("\n\n> <PTYPE>\n"), col("p_type"), lit("\n"))
        part(s, d)
          .withColumn("props", SdfReader.sdfProps(sdfText))
          .select(col("p_partkey"),
            element_at(col("props"), "PKEY").as("id_tag"),
            element_at(col("props"), "PNAME").as("name_tag"),
            element_at(col("props"), "PTYPE").as("type_tag"))
          .orderBy(col("p_partkey"))
    },

    // PAINS-style structural-alert gate composed with Lipinski
    // (system-plan.md:24-25 "filtering (e.g., Lipinski, PAINS)",
    // "structural alerts"). Oracle is CLOSED-FORM per fixture branch:
    // branches 0–5 carry exactly the planted motifs (the quinone also
    // contains the Michael-acceptor motif — chemically true: quinones
    // ARE Michael acceptors — so its alert list is both, in table
    // order), 6–9 are clean; the composed gate additionally rejects
    // branch 9 (C30 alkane: logP proxy 0.5·30 = 15 > 5 fails Lipinski)
    // while 6/7/8 (cyclohexane, acetic acid, NaCl) pass both.
    sql("q111_structural_alerts",
      s"""WITH t AS (SELECT p_partkey, p_partkey % 10 AS m,
         |  ($alertSmilesSql) AS smiles FROM part)
         |SELECT p_partkey, smiles,
         | CASE m WHEN 0 THEN 'azo' WHEN 1 THEN 'catechol'
         |   WHEN 2 THEN 'michael_acceptor' WHEN 3 THEN 'nitro'
         |   WHEN 4 THEN 'michael_acceptor,quinone' WHEN 5 THEN 'thiocarbonyl'
         |   ELSE '' END AS alerts,
         | m >= 6 AS pains_ok,
         | m IN (6, 7, 8) AS gate_ok
         |FROM t ORDER BY p_partkey""".stripMargin) {
      (s, d) =>
        part(s, d)
          .withColumn("smiles", alertSmilesCol)
          .select(col("p_partkey"), col("smiles"),
            Chemistry.structural_alerts_csv(col("smiles")).as("alerts"),
            Chemistry.pains_ok(col("smiles")).as("pains_ok"),
            Chemistry.pains_lipinski_gate(col("smiles")).as("gate_ok"))
          .orderBy(col("p_partkey"))
    },

    // Descriptor-distribution histograms per source (system-plan.md:30
    // "descriptor distributions" in the report engine): MW in 25-Da
    // buckets and logP in unit buckets, per brand (the fixture's
    // source analog). Buckets are computed from round(·,3) — the
    // 3-decimal values q47/q48 already prove bit-identical across
    // engines — and no fixture value lands on a bucket boundary, so the
    // floor is engine-exact. ONE scan: both metrics unpivot via stack
    // into a single (source, metric, bucket) aggregation; the rows feed
    // Report.descriptorSection (golden-specced).
    sql("q112_descriptor_histogram",
      s"""WITH t AS (SELECT p_brand,
         | round(CAST(CASE p_partkey % 6
         |  WHEN 1 THEN 84.162 WHEN 2 THEN 60.052 WHEN 4 THEN 58.443
         |  ELSE ((p_size % 10) + 1) * 12.011 + (2 * ((p_size % 10) + 1) + 2) * 1.008
         | END AS DOUBLE), 3) AS mw,
         | round(CAST(CASE p_partkey % 6
         |  WHEN 1 THEN 3.0 WHEN 2 THEN -0.3 WHEN 4 THEN -0.45
         |  ELSE 0.5 * ((p_size % 10) + 1) END AS DOUBLE), 3) AS logp
         | FROM part WHERE (p_partkey % 6) NOT IN (0, 3)),
         |u AS (SELECT p_brand, 'mw' AS metric,
         |        CAST(floor(mw / 25) * 25 AS BIGINT) AS bucket FROM t
         |      UNION ALL
         |      SELECT p_brand, 'logp' AS metric,
         |        CAST(floor(logp) AS BIGINT) AS bucket FROM t)
         |SELECT p_brand, metric, bucket, count(*) AS n FROM u
         |GROUP BY p_brand, metric, bucket
         |ORDER BY p_brand, metric, bucket""".stripMargin) {
      (s, d) =>
        part(s, d)
          .withColumn("smiles", smilesCol)
          .filter(Chemistry.is_valid_smiles(col("smiles")))
          .select(col("p_brand"),
            (floor(round(Chemistry.molecular_weight(col("smiles")), 3) / 25) * 25)
              .cast("long").as("mw_bucket"),
            floor(round(Chemistry.log_p(col("smiles")), 3))
              .cast("long").as("logp_bucket"))
          .selectExpr("p_brand",
            "stack(2, 'mw', mw_bucket, 'logp', logp_bucket) AS (metric, bucket)")
          .groupBy(col("p_brand"), col("metric"), col("bucket"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("p_brand"), col("metric"), col("bucket"))
    }
  )
}
