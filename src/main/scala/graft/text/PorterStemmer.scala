package graft.text

import java.util.Locale

/** Porter stemming algorithm — M.F. Porter, "An algorithm for suffix
  * stripping", Program 14(3), 1980 — including the author's later published
  * revisions (the `bli`→`ble` / `logi`→`log` departures and the short-word
  * boundary fixes).
  *
  * Entry point [[stem]] matches the contract the reference pipeline applies
  * to corpus tokens and gold-standard words (reference `Stemmer.java:367-379`):
  * the input is lowercased first; only purely alphabetic `[a-z]+` strings are
  * stemmed (anything else passes through lowercased); words of length <= 2 are
  * returned unchanged.
  *
  * The implementation is allocation-light and thread-safe (one small char
  * buffer per call) so it can sit in Spark's codegen hot path via the
  * `porter_stem` SQL function ([[graft.functions.PorterStem]]).
  */
object PorterStemmer {

  /** Lowercase, then stem if purely alphabetic and longer than 2 chars. */
  def stem(word: String): String = {
    val w = word.toLowerCase(Locale.ROOT)
    if (w.length <= 2 || !isAlpha(w)) w
    else new Run(w.toCharArray).result()
  }

  private def isAlpha(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 'a' || c > 'z') return false
      i += 1
    }
    true
  }

  /** One stemming pass over a single word. `k` = index of the last live
    * character; `j` = end of the candidate stem set by the most recent
    * successful suffix match.
    */
  // Rule tables hoisted out of the per-word Run so the hot path (the
  // codegen'd expression calls stem() per token) allocates no tables.
  /** Double suffixes → single (step 2); first matching rule wins. */
  private val rules2: Array[(String, String)] = Array(
    "ational" -> "ate", "tional" -> "tion",
    "enci" -> "ence", "anci" -> "ance",
    "izer" -> "ize",
    "bli" -> "ble", "alli" -> "al", "entli" -> "ent", "eli" -> "e",
    "ousli" -> "ous",
    "ization" -> "ize", "ation" -> "ate", "ator" -> "ate",
    "alism" -> "al", "iveness" -> "ive", "fulness" -> "ful",
    "ousness" -> "ous",
    "aliti" -> "al", "iviti" -> "ive", "biliti" -> "ble",
    "logi" -> "log",
  )

  /** -ic-, -ful, -ness etc. (step 3). */
  private val rules3: Array[(String, String)] = Array(
    "icate" -> "ic", "ative" -> "", "alize" -> "al",
    "iciti" -> "ic", "ical" -> "ic", "ful" -> "", "ness" -> "",
  )

  /** Strip -ant, -ence, ... when m > 1 (step 4). The -ion rule
    * additionally needs the stem to end in s or t.
    */
  private val suffixes4: Array[String] = Array(
    "al", "ance", "ence", "er", "ic", "able", "ible",
    "ant", "ement", "ment", "ent", "ion", "ou",
    "ism", "ate", "iti", "ous", "ive", "ize",
  )

  private final class Run(b: Array[Char]) {
    private var k: Int = b.length - 1
    private var j: Int = 0

    def result(): String = {
      step1a(); step1b(); step1c(); step2(); step3(); step4(); step5()
      new String(b, 0, k + 1)
    }

    // --- primitives -------------------------------------------------------

    /** True iff b(i) is a consonant; 'y' counts as a consonant at position 0
      * or after a vowel.
      */
    private def cons(i: Int): Boolean = b(i) match {
      case 'a' | 'e' | 'i' | 'o' | 'u' => false
      case 'y'                         => if (i == 0) true else !cons(i - 1)
      case _                           => true
    }

    /** Number of vowel→consonant transitions in b(0..j): the Porter measure
      * m of the candidate stem.
      */
    private def m(): Int = {
      var n = 0
      var i = 0
      while (i <= j && cons(i)) i += 1
      while (i <= j) {
        while (i <= j && !cons(i)) i += 1 // vowel run
        if (i <= j) {                     // consonant follows a vowel run
          n += 1
          while (i <= j && cons(i)) i += 1
        }
      }
      n
    }

    private def vowelInStem(): Boolean = {
      var i = 0
      while (i <= j) {
        if (!cons(i)) return true
        i += 1
      }
      false
    }

    private def doubleC(i: Int): Boolean =
      i >= 1 && b(i) == b(i - 1) && cons(i)

    /** consonant-vowel-consonant ending at i, last consonant not w/x/y —
      * the "restore an e" test for short words.
      */
    private def cvc(i: Int): Boolean =
      i >= 2 && cons(i) && !cons(i - 1) && cons(i - 2) &&
        b(i) != 'w' && b(i) != 'x' && b(i) != 'y'

    /** If b(0..k) ends with `s`, set j to the char before the suffix and
      * return true; on no match j is left untouched.
      */
    private def ends(s: String): Boolean = {
      val l = s.length
      val o = k - l + 1
      if (o < 0) return false
      var i = 0
      while (i < l) {
        if (b(o + i) != s.charAt(i)) return false
        i += 1
      }
      j = k - l
      true
    }

    /** Overwrite the current suffix (chars after j) with `s`. */
    private def setTo(s: String): Unit = {
      var i = 0
      while (i < s.length) {
        b(j + 1 + i) = s.charAt(i)
        i += 1
      }
      k = j + s.length
    }

    private def replaceIfM(s: String): Unit = if (m() > 0) setTo(s)

    // --- steps ------------------------------------------------------------

    /** Plurals: sses→ss, ies→i, ss→ss, s→"". */
    private def step1a(): Unit =
      if (b(k) == 's') {
        if (ends("sses")) k -= 2
        else if (ends("ies")) setTo("i")
        else if (b(k - 1) != 's') k -= 1
      }

    /** -eed/-ed/-ing, with the at/bl/iz + double-consonant + cvc cleanup. */
    private def step1b(): Unit =
      if (ends("eed")) {
        if (m() > 0) k -= 1
      } else if ((ends("ed") || ends("ing")) && vowelInStem()) {
        k = j
        if (ends("at")) setTo("ate")
        else if (ends("bl")) setTo("ble")
        else if (ends("iz")) setTo("ize")
        else if (doubleC(k)) {
          val c = b(k - 1)
          if (c != 'l' && c != 's' && c != 'z') k -= 1
        } else if (m() == 1 && cvc(k)) setTo("e")
      }

    /** Terminal y → i when the stem contains a vowel. */
    private def step1c(): Unit =
      if (ends("y") && vowelInStem()) b(k) = 'i'

    /** Double suffixes → single (first matching rule wins; rewrite only when
      * m > 0, but matching alone ends the step). Suffixes are mutually
      * exclusive by their final letters, so ordered scanning is equivalent to
      * the classic last-but-one-letter dispatch.
      */
    private def step2(): Unit = if (k > 0) applyRules(rules2)

    /** -ic-, -ful, -ness etc. */
    private def step3(): Unit = applyRules(rules3)

    private def applyRules(rules: Array[(String, String)]): Unit = {
      var i = 0
      while (i < rules.length) {
        val (suf, rep) = rules(i)
        if (ends(suf)) { replaceIfM(rep); return }
        i += 1
      }
    }

    private def step4(): Unit = {
      if (k == 0) return
      var i = 0
      while (i < suffixes4.length) {
        val suf = suffixes4(i)
        if (ends(suf)) {
          val ok = suf != "ion" || (j >= 0 && (b(j) == 's' || b(j) == 't'))
          if (ok) {
            if (m() > 1) k = j
            return
          }
          // matched "ion" without s/t stem: keep scanning (only "ou" could
          // theoretically follow, and it cannot match) — step ends.
        }
        i += 1
      }
    }

    /** 5a: drop a final -e when m > 1, or when m == 1 and the word does not
      * end cvc; 5b: -ll → -l when m > 1. Both measured against the full
      * remaining word (j = k on entry), as in the reference implementation.
      */
    private def step5(): Unit = {
      j = k
      if (b(k) == 'e') {
        val a = m()
        if (a > 1 || (a == 1 && !cvc(k - 1))) k -= 1
      }
      if (b(k) == 'l' && doubleC(k) && m() > 1) k -= 1
    }
  }
}
