package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions.{concat_ws, lit, when}

import scala.util.hashing.MurmurHash3

import graft.plans.ChemistryExpr

/** Pure-Scala SMILES algorithms: validity, normalization, salt
  * stripping, descriptors (MW, logP/TPSA proxies), and hashed
  * fingerprints.
  *
  * Every function reads one compact parse ([[Kernel]]): a single pass
  * over the SMILES characters fills reusable per-atom arrays (symbol
  * code, aromatic, bracket, explicit H, charge, bond-order sum) and an
  * edge list, with no per-atom objects. The SQL and Column forms are
  * native Catalyst expressions ([[graft.plans.ChemistryExpr]]), not
  * UDFs: generated code calls the kernel of its own expression
  * instance and gets catalyst values back, so no converter boundary,
  * `Option` or boxed array sits on the per-row path.
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

  /** Every atom symbol, `*` included, in natural `String` order: a
    * symbol's code is its index, so ordering codes orders the symbols.
    */
  private val symbols: Array[String] = ("*" +: weights.keys.toSeq).sorted.toArray
  private val weightOf: Array[Double] = symbols.map(weights.getOrElse(_, 0.0))
  private val valenceOf: Array[Int] = symbols.map(defaultValence.getOrElse(_, -1))
  private val hWeight = weights("H")
  private def code(sym: String): Int = symbols.indexOf(sym)
  private val C = code("C"); private val N = code("N")
  private val O = code("O"); private val S = code("S")
  private val isHalogen: Array[Boolean] = symbols.map(Set("F", "Cl", "Br", "I"))

  /** Code of a one-letter symbol by char (−1: none). */
  private val code1: Array[Int] = Array.tabulate(128)(c => code(c.toChar.toString))
  /** Code of a two-letter symbol `Xy` at `(X - 'A') * 26 + (y - 'a')` (−1: none). */
  private val code2: Array[Int] = Array.tabulate(26 * 26)(k =>
    code(s"${('A' + k / 26).toChar}${('a' + k % 26).toChar}"))

  private def symbolCode(c: Char): Int = if (c < 128) code1(c) else -1

  private def symbolCode(c0: Char, c1: Char): Int =
    if (c0 >= 'A' && c0 <= 'Z' && c1 >= 'a' && c1 <= 'z') code2((c0 - 'A') * 26 + (c1 - 'a'))
    else -1

  /** One compact SMILES parse and every function that reads it. The
    * arrays grow as needed and are reused from one parse to the next,
    * so one kernel must not be shared between threads: each native
    * expression instance (one per task) and each Scala call owns one.
    *
    * The parser covers the organic subset plus bracket atoms and keeps
    * these rules: `Char.isDigit` and `isLower` are Unicode (a non-ASCII
    * digit is ring label `d - '0'`, and `%` takes two such digits); an
    * aromatic two-letter bracket symbol (`[se]`) is rejected; `*` has
    * weight 0 and no valence; a `]` is searched only inside the parsed
    * range; a dangling bond, an unclosed ring, a ring closed on the atom
    * that opened it and a `)` with no open branch are invalid.
    */
  final class Kernel {
    private var nAtoms = 0
    private var nRings = 0
    private var sym = new Array[Int](32)
    private var aromatic = new Array[Boolean](32)
    private var bracket = new Array[Boolean](32)
    private var explicitH = new Array[Int](32)
    private var charge = new Array[Int](32)
    // a Double, so ⌈sum⌉ of 1.5-order aromatic bonds rounds as it should
    private var bondSum = new Array[Double](32)
    private var edgeA = new Array[Int](32)
    private var edgeB = new Array[Int](32)
    private var edges = 0
    // parser state
    private var prev = -1
    private var pending = 1.0
    private var pendingSet = false
    private var branch = new Array[Int](8)
    private var depth = 0
    private var ringLabel = new Array[Int](8)
    private var ringAtom = new Array[Int](8)
    private var ringOrder = new Array[Double](8)
    private var openRings = 0

    private def grow[T](a: Array[T], need: Int)(implicit m: scala.reflect.ClassTag[T]): Array[T] =
      if (need <= a.length) a
      else {
        val b = new Array[T](math.max(need, a.length * 2))
        System.arraycopy(a, 0, b, 0, a.length)
        b
      }

    /** Parses all of `s`; false for NULL, empty or invalid input. */
    def parse(s: String): Boolean = s != null && parse(s, 0, s.length)

    /** Parses `s[from, to)`; false when that range is empty or invalid. */
    def parse(s: String, from: Int, to: Int): Boolean = {
      nAtoms = 0; edges = 0; nRings = 0; depth = 0; openRings = 0
      prev = -1; pending = 1.0; pendingSet = false
      var i = from
      while (i < to) {
        val c = s.charAt(i)
        c match {
          case '[' =>
            val end = s.indexOf(']', i)
            if (end < 0 || end >= to || !bracketAtom(s, i + 1, end)) return false
            i = end + 1
          case 'C' if i + 1 < to && s.charAt(i + 1) == 'l' =>
            addAtom(code2(('C' - 'A') * 26 + ('l' - 'a')), arom = false, brk = false, 0, 0); i += 2
          case 'B' if i + 1 < to && s.charAt(i + 1) == 'r' =>
            addAtom(code2(('B' - 'A') * 26 + ('r' - 'a')), arom = false, brk = false, 0, 0); i += 2
          case 'B' | 'C' | 'N' | 'O' | 'P' | 'S' | 'F' | 'I' =>
            addAtom(code1(c), arom = false, brk = false, 0, 0); i += 1
          case 'b' | 'c' | 'n' | 'o' | 'p' | 's' =>
            addAtom(code1(c - 32), arom = true, brk = false, 0, 0); i += 1
          case '-' | '/' | '\\' => pending = 1.0; pendingSet = true; i += 1
          case '=' => pending = 2.0; pendingSet = true; i += 1
          case '#' => pending = 3.0; pendingSet = true; i += 1
          case ':' => pending = 1.5; pendingSet = true; i += 1
          case '(' =>
            if (prev < 0) return false
            branch = grow(branch, depth + 1)
            branch(depth) = prev; depth += 1; i += 1
          case ')' =>
            if (depth == 0) return false
            depth -= 1; prev = branch(depth); i += 1
          case '.' =>
            prev = -1; pending = 1.0; pendingSet = false; i += 1
          case '%' =>
            if (i + 2 >= to || !s.charAt(i + 1).isDigit || !s.charAt(i + 2).isDigit) return false
            if (prev < 0 || !closeRing((s.charAt(i + 1) - '0') * 10 + (s.charAt(i + 2) - '0')))
              return false
            i += 3
          case d if d.isDigit =>
            if (prev < 0 || !closeRing(d - '0')) return false
            i += 1
          case _ => return false
        }
      }
      depth == 0 && openRings == 0 && !pendingSet && nAtoms > 0
    }

    /** The bracket atom `s[from, end)` (between `[` and `]`): isotope
      * digits, symbol, then `@`, `H<n>` and charges.
      */
    private def bracketAtom(s: String, from: Int, end: Int): Boolean = {
      var j = from
      while (j < end && s.charAt(j).isDigit) j += 1 // isotope
      if (j >= end) return false
      val c0 = s.charAt(j)
      val arom = c0.isLower
      val two = if (!arom && j + 1 < end && s.charAt(j + 1).isLower) symbolCode(c0, s.charAt(j + 1)) else -1
      val symbol =
        if (two >= 0) { j += 2; two }
        else { j += 1; symbolCode(if (arom) c0.toUpper else c0) }
      if (symbol < 0) return false
      var h = 0
      var q = 0
      while (j < end) {
        s.charAt(j) match {
          case '@' => j += 1
          case 'H' =>
            j += 1
            if (j < end && s.charAt(j).isDigit) { h = s.charAt(j) - '0'; j += 1 } else h = 1
          case '+' =>
            j += 1
            if (j < end && s.charAt(j).isDigit) { q += s.charAt(j) - '0'; j += 1 }
            else { q += 1; while (j < end && s.charAt(j) == '+') { q += 1; j += 1 } }
          case '-' =>
            j += 1
            if (j < end && s.charAt(j).isDigit) { q -= s.charAt(j) - '0'; j += 1 }
            else { q -= 1; while (j < end && s.charAt(j) == '-') { q -= 1; j += 1 } }
          case _ => return false
        }
      }
      addAtom(symbol, arom, brk = true, h, q)
      true
    }

    private def addAtom(code: Int, arom: Boolean, brk: Boolean, h: Int, q: Int): Unit = {
      val a = nAtoms
      if (a == sym.length) {
        sym = grow(sym, a + 1); aromatic = grow(aromatic, a + 1); bracket = grow(bracket, a + 1)
        explicitH = grow(explicitH, a + 1); charge = grow(charge, a + 1); bondSum = grow(bondSum, a + 1)
      }
      sym(a) = code; aromatic(a) = arom; bracket(a) = brk
      explicitH(a) = h; charge(a) = q; bondSum(a) = 0.0
      nAtoms += 1
      if (prev >= 0)
        bond(prev, a, if (pendingSet) pending else if (aromatic(prev) && arom) 1.5 else 1.0)
      prev = a
      pending = 1.0; pendingSet = false
    }

    private def bond(a: Int, b: Int, order: Double): Unit = {
      bondSum(a) += order
      bondSum(b) += order
      if (edges == edgeA.length) { edgeA = grow(edgeA, edges + 1); edgeB = grow(edgeB, edges + 1) }
      edgeA(edges) = a; edgeB(edges) = b
      edges += 1
    }

    /** Opens or closes ring `label` at the current atom. */
    private def closeRing(label: Int): Boolean = {
      var k = 0
      while (k < openRings && ringLabel(k) != label) k += 1
      if (k < openRings) {
        val other = ringAtom(k)
        if (other == prev) return false
        bond(prev, other, if (pendingSet) pending else ringOrder(k))
        openRings -= 1
        ringLabel(k) = ringLabel(openRings); ringAtom(k) = ringAtom(openRings)
        ringOrder(k) = ringOrder(openRings)
        nRings += 1
      } else {
        if (openRings == ringLabel.length) {
          ringLabel = grow(ringLabel, openRings + 1); ringAtom = grow(ringAtom, openRings + 1)
          ringOrder = grow(ringOrder, openRings + 1)
        }
        ringLabel(openRings) = label; ringAtom(openRings) = prev
        ringOrder(openRings) = if (pendingSet) pending else 1.0
        openRings += 1
      }
      pending = 1.0; pendingSet = false
      true
    }

    // ---- readers of the last successful parse --------------------------

    /** Implicit hydrogens from the standard-valence model; aromatic
      * atoms contribute their 1.5-order bonds rounded up (benzene
      * carbon: 3 aromatic neighbors would double-count, so ⌈sum⌉ with a
      * minimum of one π adjustment — exact for plain chains/rings,
      * documented approximation for fused aromatics).
      */
    private def implicitH(a: Int): Int =
      if (bracket(a)) 0 // bracket atoms carry explicit H counts by SMILES rules
      else {
        val v = valenceOf(sym(a))
        if (v < 0) 0 else math.max(0, v - math.ceil(bondSum(a)).toInt)
      }

    private def hydrogens(a: Int): Int = implicitH(a) + explicitH(a)

    /** Molecular weight (g/mol) over atoms + implicit/explicit H, summed
      * in atom order.
      */
    def molecularWeight: Double = {
      var mw = 0.0
      var a = 0
      while (a < nAtoms) { mw += weightOf(sym(a)) + hydrogens(a) * hWeight; a += 1 }
      mw
    }

    private def count(code: Int): Int = {
      var n = 0
      var a = 0
      while (a < nAtoms) { if (sym(a) == code) n += 1; a += 1 }
      n
    }

    private def halogens: Int = {
      var n = 0
      var a = 0
      while (a < nAtoms) { if (isHalogen(sym(a))) n += 1; a += 1 }
      n
    }

    private def donors: Int = {
      var n = 0
      var a = 0
      while (a < nAtoms) {
        if ((sym(a) == N || sym(a) == O) && hydrogens(a) > 0) n += 1
        a += 1
      }
      n
    }

    /** Crippen-flavored logP proxy before rounding. */
    private def rawLogP: Double = {
      var absCharge = 0
      var a = 0
      while (a < nAtoms) { absCharge += math.abs(charge(a)); a += 1 }
      0.5 * count(C) + 0.35 * halogens + 0.18 * count(S) - 0.65 * (count(N) + count(O)) -
        0.4 * absCharge
    }

    private def round3(x: Double): Double = math.rint(x * 1000) / 1000

    def logP: Double = round3(rawLogP)

    def tpsa: Double = round3(20.3 * count(N) + 17.1 * count(O) + 8.4 * count(S))

    def lipinskiOk: Boolean =
      molecularWeight <= 500 && rawLogP <= 5 && donors <= 5 && count(N) + count(O) <= 10

    def descriptors: Descriptors = {
      val n = count(N); val o = count(O)
      Descriptors(molecularWeight, nAtoms, count(C), n, o, halogens, nRings, donors, n + o,
        logP, tpsa, lipinskiOk)
    }

    /** MACCS-flavored structural key bits, ascending. */
    def structuralKeys: Array[Int] = {
      var keys = 0
      var a = 0
      while (a < nAtoms) {
        val s = sym(a)
        if (s == C) keys |= 1
        if (s == N) keys |= 1 << 1
        if (s == O) keys |= 1 << 2
        if (s == S) keys |= 1 << 3
        if (isHalogen(s)) keys |= 1 << 4
        if (aromatic(a)) keys |= 1 << 6
        if (bondSum(a) >= 2.0) keys |= 1 << 7
        if (charge(a) != 0) keys |= 1 << 8
        a += 1
      }
      if (nRings > 0) keys |= 1 << 5
      if (nAtoms > 20) keys |= 1 << 9
      bitIndices(Array(keys.toLong), 1)
    }

    // ---- Morgan fingerprint --------------------------------------------

    private var nbrStart = new Array[Int](33)
    private var nbr = new Array[Int](64)
    private var stamp = new Array[Int](32)
    private var shell = new Array[Int](32)
    private val shellCount = new Array[Int](symbols.length)
    private var words = new Array[Long](16)
    // MurmurHash3 string-hash state of the environment being fed
    private var hash = 0
    private var oddChar = -1
    private var envLength = 0

    /** Neighbour lists of the last parse in CSR form. */
    private def buildNeighbours(): Unit = {
      nbrStart = grow(nbrStart, nAtoms + 1)
      java.util.Arrays.fill(nbrStart, 0, nAtoms + 1, 0)
      var e = 0
      while (e < edges) { nbrStart(edgeA(e) + 1) += 1; nbrStart(edgeB(e) + 1) += 1; e += 1 }
      var a = 0
      while (a < nAtoms) { nbrStart(a + 1) += nbrStart(a); a += 1 }
      nbr = grow(nbr, 2 * edges)
      stamp = grow(stamp, nAtoms) // the fill cursor per atom, then the visited stamp
      System.arraycopy(nbrStart, 0, stamp, 0, nAtoms)
      e = 0
      while (e < edges) {
        val x = edgeA(e); val y = edgeB(e)
        nbr(stamp(x)) = y; stamp(x) += 1
        nbr(stamp(y)) = x; stamp(y) += 1
        e += 1
      }
      java.util.Arrays.fill(stamp, 0, nAtoms, 0)
    }

    // feeds one char into MurmurHash3.stringHash's running state: chars
    // pair up as (c0 << 16) + c1 and an odd last char is mixed at the end
    private def feed(c: Char): Unit = {
      if (oddChar < 0) oddChar = c
      else { hash = MurmurHash3.mix(hash, (oddChar << 16) + c); oddChar = -1 }
      envLength += 1
    }

    private def feedSymbol(code: Int): Unit = {
      val s = symbols(code)
      feed(s.charAt(0))
      if (s.length > 1) feed(s.charAt(1))
    }

    /** Sets the bit of the environment fed so far: `stringHash` of the
      * same characters, without building them into a string.
      */
    private def setBit(nBits: Int): Unit = {
      val h = MurmurHash3.finalizeHash(
        if (oddChar < 0) hash else MurmurHash3.mixLast(hash, oddChar), envLength)
      val b = Math.floorMod(h, nBits)
      words(b >>> 6) |= 1L << b
    }

    /** Morgan-flavored bits of the last parse; see [[Chemistry.morganBits]]. */
    def morganBits(radius: Int, nBits: Int): Array[Int] = {
      require(nBits > 0, s"nBits must be positive, got $nBits")
      buildNeighbours()
      shell = grow(shell, nAtoms)
      val nWords = (nBits + 63) >>> 6
      words = grow(words, nWords)
      java.util.Arrays.fill(words, 0, nWords, 0L)
      var i = 0
      while (i < nAtoms) {
        stamp(i) = i + 1 // stamp(j) == i + 1: j is in atom i's shell
        shell(0) = i
        var size = 1
        java.util.Arrays.fill(shellCount, 0)
        shellCount(sym(i)) = 1
        hash = MurmurHash3.stringSeed; oddChar = -1; envLength = 0
        feedSymbol(sym(i))
        setBit(nBits)
        var frontier = 0
        var r = 0
        while (r < radius) {
          val old = size
          var k = frontier
          while (k < old) {
            var q = nbrStart(shell(k))
            val qEnd = nbrStart(shell(k) + 1)
            while (q < qEnd) {
              val j = nbr(q)
              if (stamp(j) != i + 1) {
                stamp(j) = i + 1; shell(size) = j; size += 1; shellCount(sym(j)) += 1
              }
              q += 1
            }
            k += 1
          }
          frontier = old
          // the shell's symbols in natural String order: codes ascending
          feed('|')
          var code = 0
          while (code < shellCount.length) {
            var m = shellCount(code)
            while (m > 0) { feedSymbol(code); m -= 1 }
            code += 1
          }
          setBit(nBits)
          r += 1
        }
        i += 1
      }
      bitIndices(words, nWords)
    }

    private def bitIndices(ws: Array[Long], nWords: Int): Array[Int] = {
      var total = 0
      var w = 0
      while (w < nWords) { total += java.lang.Long.bitCount(ws(w)); w += 1 }
      val out = new Array[Int](total)
      var o = 0
      w = 0
      while (w < nWords) {
        var word = ws(w)
        while (word != 0L) {
          out(o) = (w << 6) + java.lang.Long.numberOfTrailingZeros(word)
          o += 1
          word &= word - 1
        }
        w += 1
      }
      out
    }

    // ---- salt strip and normalization ------------------------------------

    private var keptFrom = 0
    private var keptTo = 0
    private var chars = new Array[Char](64)

    /** Sets `[keptFrom, keptTo)` to the fragment [[Chemistry.stripSalt]] keeps. */
    private def keepLargestFragment(s: String): Unit = {
      keptFrom = 0; keptTo = s.length
      var fragments = 0
      var from = 0
      while (from <= s.length && fragments < 2) {
        val dot = s.indexOf('.', from)
        val to = if (dot < 0) s.length else dot
        if (to > from) fragments += 1
        from = to + 1
      }
      if (fragments < 2) return
      var best = -1
      from = 0
      while (from <= s.length) {
        val dot = s.indexOf('.', from)
        val to = if (dot < 0) s.length else dot
        if (to > from) {
          val n = if (parse(s, from, to)) nAtoms else 0
          if (n > best || n == best && compareRanges(s, from, to, keptFrom, keptTo) < 0) {
            best = n; keptFrom = from; keptTo = to
          }
        }
        from = to + 1
      }
    }

    /** `String.compareTo` of `s[a0, a1)` and `s[b0, b1)`. */
    private def compareRanges(s: String, a0: Int, a1: Int, b0: Int, b1: Int): Int = {
      val n = math.min(a1 - a0, b1 - b0)
      var k = 0
      while (k < n) {
        val d = s.charAt(a0 + k) - s.charAt(b0 + k)
        if (d != 0) return d
        k += 1
      }
      (a1 - a0) - (b1 - b0)
    }

    def stripSalt(s: String): String = {
      keepLargestFragment(s)
      if (keptFrom == 0 && keptTo == s.length) s else s.substring(keptFrom, keptTo)
    }

    /** [[Chemistry.normalize]]; returns `s` itself when nothing changes. */
    def normalize(s: String): String = {
      keepLargestFragment(s)
      chars = grow(chars, keptTo - keptFrom)
      var n = 0
      var i = keptFrom
      while (i < keptTo) {
        val c = s.charAt(i)
        i += 1
        if (c != '@' && c != '/' && c != '\\') {
          chars(n) = c; n += 1
          // isotope digits right after '[', with any stereo marks among them
          if (c == '[') while (i < keptTo && isotopeOrStereo(s.charAt(i))) i += 1
        }
      }
      if (n == s.length) s
      else if (n == keptTo - keptFrom) s.substring(keptFrom, keptTo)
      else new String(chars, 0, n)
    }

    private def isotopeOrStereo(c: Char): Boolean =
      c >= '0' && c <= '9' || c == '@' || c == '/' || c == '\\'
  }

  def isValid(smiles: String): Boolean = new Kernel().parse(smiles)

  /** Molecular weight (g/mol) over parsed atoms + implicit/explicit H. */
  def molecularWeight(smiles: String): Option[Double] = {
    val k = new Kernel
    if (k.parse(smiles)) Some(k.molecularWeight) else None
  }

  /** Keep the largest `.`-separated fragment (salt strip); ties break
    * to the lexicographically smallest fragment for determinism, and a
    * fragment that does not parse counts 0 atoms. A SMILES with at most
    * one non-empty fragment is returned unchanged; NULL gives NULL.
    */
  def stripSalt(smiles: String): String =
    if (smiles == null) null else new Kernel().stripSalt(smiles)

  /** Deterministic normalization for dedup keys: salt strip + drop
    * stereo (@, /, \\) and the ASCII isotope digits right after each
    * `[`. NOT a true canonical SMILES (no Morgan relabeling) —
    * documented approximation. NULL gives NULL.
    */
  def normalize(smiles: String): String =
    if (smiles == null) null else new Kernel().normalize(smiles)

  final case class Descriptors(
      mw: Double, heavyAtoms: Int, carbons: Int, nitrogens: Int,
      oxygens: Int, halogens: Int, rings: Int, hbd: Int, hba: Int,
      logP: Double, tpsa: Double, lipinskiOk: Boolean)

  /** Descriptor block; logP is a Crippen-flavored per-atom proxy and
    * TPSA a per-heteroatom contribution proxy (documented constants).
    */
  def descriptors(smiles: String): Option[Descriptors] = {
    val k = new Kernel
    if (k.parse(smiles)) Some(k.descriptors) else None
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
    * The shells grow in place from their last frontier, their symbols
    * are ordered by a count per symbol code, and each environment's
    * characters are fed straight into the `stringHash` mixing steps, so
    * no environment string is built; the output is bit-identical to
    * building each shell as an immutable set and each environment as a
    * fresh string (the reference oracle in `ChemistrySpec`).
    */
  def morganBits(smiles: String, radius: Int = 2, nBits: Int = 1024): Option[Array[Int]] = {
    require(nBits > 0, s"nBits must be positive, got $nBits")
    val k = new Kernel
    if (k.parse(smiles)) Some(k.morganBits(radius, nBits)) else None
  }

  /** MACCS-flavored structural key bits from substructure heuristics. */
  def structuralKeys(smiles: String): Option[Array[Int]] = {
    val k = new Kernel
    if (k.parse(smiles)) Some(k.structuralKeys) else None
  }

  // ---- Column forms: the native expressions of the SQL names -----------

  private def chem(name: String, c: Column): Column =
    GraftColumnBridge.column(ChemistryExpr(GraftColumnBridge.expression(c), name))

  def is_valid_smiles(c: Column): Column = chem("is_valid_smiles", c)
  def molecular_weight(c: Column): Column = chem("molecular_weight", c)
  def normalize_smiles(c: Column): Column = chem("normalize_smiles", c)
  def strip_salt(c: Column): Column = chem("strip_salt", c)
  def log_p(c: Column): Column = chem("log_p", c)
  def tpsa(c: Column): Column = chem("tpsa", c)
  def lipinski_ok(c: Column): Column = chem("lipinski_ok", c)
  def morgan_fp(c: Column): Column = chem("morgan_fp", c)
  def structural_keys(c: Column): Column = chem("structural_keys", c)

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
