package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{concat_ws, lit, udf, when}

/** Pure-Scala SMILES algorithms: validity, normalization, salt
  * stripping, descriptors (MW, logP/TPSA proxies), and hashed
  * fingerprints. Registered as deterministic scalar UDFs over the
  * `smiles` column.
  *
  * The reference commits to canonicalization / descriptor / fingerprint
  * / Lipinski stages in its design docs
  * (/root/reference/docs/system-plan.md:23-27) without implementing
  * them; no RDKit JNI exists in this zero-egress environment, so these
  * are deterministic documented approximations (SURVEY.md §7.4): exact
  * for the organic subset's arithmetic (atom counts, MW from standard
  * valence-derived implicit hydrogens), proxy formulas for logP/TPSA.
  * The correctness contract is determinism + oracle reproducibility,
  * not chemical truth.
  */
object Chemistry {

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

  final case class Descriptors(
      mw: Double, heavyAtoms: Int, carbons: Int, nitrogens: Int,
      oxygens: Int, halogens: Int, rings: Int, hbd: Int, hba: Int,
      logP: Double, tpsa: Double, lipinskiOk: Boolean)

  /** Descriptor block; logP is a Crippen-flavored per-atom proxy and
    * TPSA a per-heteroatom contribution proxy (documented constants).
    */
  def descriptors(smiles: String): Option[Descriptors] = parse(smiles).map { m =>
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
    Descriptors(mw, atoms.length, c, n, o, hal, m.ringBonds, hbd, hba,
      math.rint(logP * 1000) / 1000, math.rint(tpsa * 1000) / 1000,
      mw <= 500 && logP <= 5 && hbd <= 5 && hba <= 10)
  }

  /** Morgan-flavored hashed circular fingerprint. Atom `i`'s radius-0
    * environment string is its symbol; its radius-k string is the
    * radius-(k-1) string, `|`, and the symbols of every atom within k
    * bonds of `i` (each atom once, `i` included) sorted in natural
    * `String` order and concatenated. Each environment for k in
    * 0..`radius` sets bit `floorMod(MurmurHash3.stringHash(env), nBits)`.
    * Returns the set bit indices, sorted and distinct; `None` when the
    * SMILES does not parse.
    *
    * The shells grow in place (one array of members, a per-atom stamp
    * as the visited set) into one reused builder, and the bits collect
    * in a bitmap; the output is bit-identical to building each shell as
    * an immutable set and each environment as a fresh string (the
    * reference oracle in `ChemistrySpec`).
    */
  def morganBits(smiles: String, radius: Int = 2, nBits: Int = 1024): Option[Array[Int]] = {
    require(nBits > 0, s"nBits must be positive, got $nBits")
    parse(smiles).map { m =>
      val n = m.atoms.length
      val sym = m.atoms.iterator.map(_.symbol).toArray
      val nbr = m.atoms.iterator.map(_.neighbors.toArray).toArray
      val stamp = new Array[Int](n) // stamp(j) == i + 1: j is in atom i's shell
      val shell = new Array[Int](n)
      val shellSyms = new Array[String](n)
      val words = new Array[Long]((nBits + 63) >>> 6)
      val env = new java.lang.StringBuilder
      def setBit(e: String): Unit = {
        val b = math.floorMod(scala.util.hashing.MurmurHash3.stringHash(e), nBits)
        words(b >>> 6) |= 1L << b
      }
      var i = 0
      while (i < n) {
        stamp(i) = i + 1
        shell(0) = i
        var size = 1
        env.setLength(0)
        env.append(sym(i))
        setBit(sym(i))
        var r = 0
        while (r < radius) {
          val old = size
          var k = 0
          while (k < old) {
            val ns = nbr(shell(k))
            var q = 0
            while (q < ns.length) {
              val j = ns(q)
              if (stamp(j) != i + 1) { stamp(j) = i + 1; shell(size) = j; size += 1 }
              q += 1
            }
            k += 1
          }
          k = 0
          while (k < size) { shellSyms(k) = sym(shell(k)); k += 1 }
          // natural String order, the order `.sorted` gives
          java.util.Arrays.sort(shellSyms.asInstanceOf[Array[AnyRef]], 0, size)
          env.append('|')
          k = 0
          while (k < size) { env.append(shellSyms(k)); k += 1 }
          setBit(env.toString)
          r += 1
        }
        i += 1
      }
      val out = new Array[Int](words.iterator.map(java.lang.Long.bitCount).sum)
      var o = 0
      var w = 0
      while (w < words.length) {
        var word = words(w)
        while (word != 0L) {
          out(o) = (w << 6) + java.lang.Long.numberOfTrailingZeros(word)
          o += 1
          word &= word - 1
        }
        w += 1
      }
      out
    }
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

  // ---- Column-level UDFs ------------------------------------------------
  val isValidUdf = udf(isValid _)
  val mwUdf = udf((s: String) => molecularWeight(s))
  val normalizeUdf = udf(normalize _)
  val stripSaltUdf = udf(stripSalt _)
  val logPUdf = udf((s: String) => descriptors(s).map(_.logP))
  val tpsaUdf = udf((s: String) => descriptors(s).map(_.tpsa))
  val lipinskiUdf = udf((s: String) => descriptors(s).exists(_.lipinskiOk))
  val morganUdf = udf((s: String) => morganBits(s))
  val structuralKeysUdf = udf((s: String) => structuralKeys(s))

  def is_valid_smiles(c: Column): Column = isValidUdf(c)
  def molecular_weight(c: Column): Column = mwUdf(c)
  def normalize_smiles(c: Column): Column = normalizeUdf(c)
  def strip_salt(c: Column): Column = stripSaltUdf(c)
  def log_p(c: Column): Column = logPUdf(c)
  def tpsa(c: Column): Column = tpsaUdf(c)
  def lipinski_ok(c: Column): Column = lipinskiUdf(c)
  def morgan_fp(c: Column): Column = morganUdf(c)
  def structural_keys(c: Column): Column = structuralKeysUdf(c)

  // ---- PAINS-flavored structural alerts ---------------------------------

  /** Structural-alert table: (alert name, SMILES substring motif),
    * name-ordered. The reference declares "filtering (e.g., Lipinski,
    * PAINS)" and "structural alerts" as analysis stages
    * (/root/reference/docs/system-plan.md:24-25) with no
    * implementation; real PAINS matching is SMARTS-subgraph-based
    * (RDKit), which this zero-dependency engine approximates with
    * DETERMINISTIC substring motifs over the SMILES text — the same
    * approximation discipline as the MACCS-flavored
    * [[structuralKeys]]. Substring matching trades recall (a motif
    * spelled differently — ring-number shuffles, kekulized aromatics —
    * is missed) for a gate that is engine-exact, codegen'd (plain
    * `contains`, no UDF), and DuckDB-oracle-checkable. Classic PAINS
    * families represented: azo dyes, catechols, Michael acceptors,
    * nitro aromatics, quinones, thiocarbonyls.
    */
  val StructuralAlerts: Seq[(String, String)] = Seq(
    "azo" -> "N=N",
    "catechol" -> "c1ccc(O)c(O)c1",
    "michael_acceptor" -> "C=CC(=O)",
    "nitro" -> "[N+](=O)[O-]",
    "quinone" -> "C=CC(=O)C=C",
    "thiocarbonyl" -> "C(=S)")

  /** Comma-joined names of every triggered alert (empty string when
    * clean). `concat_ws` drops the NULLs of non-matching motifs, so
    * the result is deterministic in table order — and has the exact
    * same semantics as DuckDB's `concat_ws`, which is what makes the
    * gate hash-oracle-able. Pure Column ops: the whole alert table
    * compiles into one codegen'd projection, no UDF in the scan path.
    */
  def structural_alerts_csv(c: Column): Column =
    concat_ws(",", StructuralAlerts.map { case (name, motif) =>
      when(c.contains(motif), lit(name))
    }: _*)

  /** True when no structural alert fires. */
  def pains_ok(c: Column): Column = structural_alerts_csv(c) === lit("")

  /** The composed admission gate of system-plan.md:24-25: Lipinski
    * drug-likeness AND no structural alert. Order matters for cost,
    * not semantics: the codegen'd substring gate short-circuits before
    * the descriptor UDF runs on rejected rows.
    */
  def pains_lipinski_gate(c: Column): Column = pains_ok(c) && lipinski_ok(c)
}
