package graft.engine

/** Porter stemmer (original 1980 algorithm), hand-written from the
  * published description — replaces the reference's per-token
  * `PorterStemmer().stem(word)` lambda (`/root/reference/amazon1.py:129-130`,
  * `big datarr.R:135-137` SnowballC). No external dependency; Spark
  * reaches it only through the native column
  * `graft.functions.StemText.graft_stem` (SURVEY.md §2.11) — there is
  * no DuckDB-SQL equivalent, so stemmed queries use the rows-only
  * check.
  */
object Stemmer {

  private def isConsonant(w: String, i: Int): Boolean = w.charAt(i) match {
    case 'a' | 'e' | 'i' | 'o' | 'u' => false
    case 'y' => i == 0 || !isConsonant(w, i - 1)
    case _ => true
  }

  /** Measure m of the stem: number of VC sequences in [C](VC)^m[V]. */
  private def measure(w: String): Int = {
    var m = 0; var i = 0; val n = w.length
    while (i < n && isConsonant(w, i)) i += 1
    while (i < n) {
      while (i < n && !isConsonant(w, i)) i += 1
      if (i < n) { m += 1; while (i < n && isConsonant(w, i)) i += 1 }
    }
    m
  }

  private def containsVowel(w: String): Boolean =
    w.indices.exists(i => !isConsonant(w, i))

  private def endsDoubleConsonant(w: String): Boolean =
    w.length >= 2 && w.charAt(w.length - 1) == w.charAt(w.length - 2) &&
      isConsonant(w, w.length - 1)

  /** *o — stem ends cvc where the final c is not w, x or y. */
  private def endsCvc(w: String): Boolean = {
    val n = w.length
    n >= 3 && isConsonant(w, n - 3) && !isConsonant(w, n - 2) &&
      isConsonant(w, n - 1) && !"wxy".contains(w.charAt(n - 1))
  }

  private def step1a(w: String): String =
    if (w.endsWith("sses")) w.dropRight(2)
    else if (w.endsWith("ies")) w.dropRight(2)
    else if (w.endsWith("ss")) w
    else if (w.endsWith("s")) w.dropRight(1)
    else w

  private def step1b(w: String): String = {
    def post(s: String): String =
      if (s.endsWith("at") || s.endsWith("bl") || s.endsWith("iz")) s + "e"
      else if (endsDoubleConsonant(s) && !"lsz".contains(s.last)) s.dropRight(1)
      else if (measure(s) == 1 && endsCvc(s)) s + "e"
      else s
    if (w.endsWith("eed")) {
      val stem = w.dropRight(3)
      if (measure(stem) > 0) w.dropRight(1) else w
    } else if (w.endsWith("ed") && containsVowel(w.dropRight(2)))
      post(w.dropRight(2))
    else if (w.endsWith("ing") && containsVowel(w.dropRight(3)))
      post(w.dropRight(3))
    else w
  }

  private def step1c(w: String): String =
    if (w.endsWith("y") && containsVowel(w.dropRight(1))) w.dropRight(1) + "i"
    else w

  private val step2Rules = Seq(
    "ational" -> "ate", "tional" -> "tion", "enci" -> "ence",
    "anci" -> "ance", "izer" -> "ize", "abli" -> "able", "alli" -> "al",
    "entli" -> "ent", "eli" -> "e", "ousli" -> "ous", "ization" -> "ize",
    "ation" -> "ate", "ator" -> "ate", "alism" -> "al", "iveness" -> "ive",
    "fulness" -> "ful", "ousness" -> "ous", "aliti" -> "al",
    "iviti" -> "ive", "biliti" -> "ble")

  private val step3Rules = Seq(
    "icate" -> "ic", "ative" -> "", "alize" -> "al", "iciti" -> "ic",
    "ical" -> "ic", "ful" -> "", "ness" -> "")

  private val step4Suffixes = Seq(
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize")

  private def applyRules(w: String, rules: Seq[(String, String)],
      minMeasure: Int): String =
    rules.collectFirst {
      case (suf, rep) if w.endsWith(suf) =>
        val stem = w.substring(0, w.length - suf.length)
        if (measure(stem) > minMeasure - 1) stem + rep else w
    }.getOrElse(w)

  private def step4(w: String): String =
    step4Suffixes.collectFirst {
      case suf if w.endsWith(suf) =>
        val stem = w.substring(0, w.length - suf.length)
        val ok = measure(stem) > 1 &&
          (suf != "ion" || (stem.nonEmpty && "st".contains(stem.last)))
        if (ok) stem else w
    }.getOrElse(w)

  private def step5(w: String): String = {
    val a = if (w.endsWith("e")) {
      val stem = w.dropRight(1)
      val m = measure(stem)
      if (m > 1 || (m == 1 && !endsCvc(stem))) stem else w
    } else w
    if (measure(a) > 1 && endsDoubleConsonant(a) && a.endsWith("l"))
      a.dropRight(1)
    else a
  }

  /** Stem one lowercase word. Words of length <= 2 pass through
    * unchanged (per the original algorithm). */
  def stem(word: String): String =
    if (word == null || word.length <= 2) word
    else step5(step4(applyRules(applyRules(step1c(step1b(step1a(word))),
      step2Rules, 1), step3Rules, 1)))

  /** Stem every token of a whitespace-separated string, preserving
    * token order — the reference's per-token map (`amazon1.py:130`). */
  def stemText(text: String): String =
    if (text == null) null
    else text.split("\\s+").filter(_.nonEmpty).map(stem).mkString(" ")
}
