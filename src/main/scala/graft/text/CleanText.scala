package graft.text

/** clean_text normalizer — reimplements the reference's normalization chain
  * (/root/reference/utils/data_util.py:118-129, duplicated at
  * /root/reference/utils.py:9-20): lowercase → ASCII transliteration →
  * strip `http\S+` URLs → whitelist `[a-z0-9\s,.!?']` → collapse whitespace
  * → empty if ≤4 words. Idempotent (property-tested).
  */
object CleanText {
  private val UrlRe = "http\\S+".r
  private val NonWhitelistRe = "[^a-z0-9\\s,.!?']".r
  private val WsRe = "\\s+".r

  def apply(text: String): String = {
    if (text == null) return ""
    val lowered = text.toLowerCase(java.util.Locale.ROOT)
    scrub(AsciiFold(lowered))
  }

  /** java-regex `\s` (default flags): NOT `Character.isWhitespace`, which
    * also accepts U+001C-001F and unicode spaces.
    */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  @inline private def isKeep(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
      c == ',' || c == '.' || c == '!' || c == '?' || c == '\''

  /** The post-fold scrub chain — URL strip (`http\S+` → ""), whitelist
    * (`[^a-z0-9\s,.!?']` → ""), whitespace collapse (`\s+` → " ", trim),
    * ≤4-words → empty — fused into ONE linear char scan. Semantics are
    * regex-identical (property-pinned against [[scrubReference]]): the
    * fusion exists because java.util.regex collapses under executor
    * thread counts — `Probe kernel clean_regex_chain` measured the three-`replaceAllIn`
    * chain at 50 µs/doc single-threaded but 3,261 µs·core/doc at 32
    * threads (65×, the same megamorphic-profile pathology the KN
    * tokenizer's hand-rolled loop replaced), while this scan scales like
    * every other char loop in the repo.
    */
  private[graft] def scrub(folded: String): String = {
    val n = folded.length
    val sb = new java.lang.StringBuilder(n)
    var words = 0
    var pendingWs = false
    var i = 0
    while (i < n) {
      // `http\S+`: literal "http" followed by >=1 non-\s char — the
      // match consumes the maximal non-\s run. Bare "http" before
      // whitespace/EOF does NOT match (the + needs one char), exactly
      // like the regex.
      if (folded.charAt(i) == 'h' && i + 4 < n &&
          folded.startsWith("http", i) && !isWs(folded.charAt(i + 4))) {
        i += 4
        while (i < n && !isWs(folded.charAt(i))) i += 1
      } else {
        val c = folded.charAt(i)
        if (isWs(c)) pendingWs = true
        else if (isKeep(c)) {
          if (pendingWs && sb.length > 0) { sb.append(' '); words += 1 }
          pendingWs = false
          if (sb.length == 0) words = 1
          sb.append(c)
        }
        // else: non-whitelisted char — dropped, glues neighbors like the
        // regex chain does ("a#b" -> "ab", "a # b" -> "a b")
        i += 1
      }
    }
    if (words <= 4) "" else sb.toString
  }

  /** The original three-regex formulation, kept as the semantic
    * reference the property suite pins [[scrub]] against.
    */
  private[graft] def scrubReference(folded: String): String = {
    val noUrl = UrlRe.replaceAllIn(folded, "")
    val whitelisted = NonWhitelistRe.replaceAllIn(noUrl, "")
    val collapsed = WsRe.replaceAllIn(whitelisted, " ").trim
    if (collapsed.split(" ").count(_.nonEmpty) <= 4) "" else collapsed
  }
}

/** Deterministic ASCII transliteration (reference uses the public
  * `unidecode` library, /root/reference/utils/data_util.py:122). We fold
  * via Unicode NFD decomposition + combining-mark strip, plus a table for
  * characters NFD alone doesn't reduce: Latin-1 Supplement, Latin
  * Extended-A/B, and (since r3) the Cyrillic and Greek alphabets with
  * standard romanization, so European + Slavic + Greek text
  * transliterates instead of dropping. The table applies AFTER NFD, so
  * accented Cyrillic/Greek (й ё ά ύ …) decompose to their base letters
  * first and then romanize (й → и-breve → i — the unidecode behavior).
  * Transliteration is unidecode-STYLE (standard romanization tables),
  * not a byte-for-byte unidecode clone. Japanese kana (a closed set)
  * romanizes per character like unidecode (since r4, [[AsciiFold.Kana]]),
  * and the ~600 highest-frequency hanzi romanize to pinyin in
  * unidecode's Title-case-plus-trailing-space convention
  * ([[AsciiFold.Hanzi]], also r4); RARE hanzi outside that table still
  * DROP — the remaining documented divergence (golden pairs in
  * CleanTextSpec pin the behavior either way).
  */
object AsciiFold {
  private val Extra: Map[Char, String] = Map(
    // Latin-1 Supplement without NFD decompositions
    'ß' -> "ss", 'æ' -> "ae", 'Æ' -> "AE", 'ø' -> "o", 'Ø' -> "O",
    'þ' -> "th", 'Þ' -> "Th", 'ð' -> "d", 'Ð' -> "D",
    // Latin Extended-A without NFD decompositions
    'đ' -> "d", 'Đ' -> "D", 'ł' -> "l", 'Ł' -> "L", 'œ' -> "oe",
    'Œ' -> "OE", 'ħ' -> "h", 'Ħ' -> "H", 'ı' -> "i", 'ĸ' -> "k",
    'ŀ' -> "l", 'Ŀ' -> "L", 'ŉ' -> "n", 'ŋ' -> "n", 'Ŋ' -> "N",
    'ŧ' -> "t", 'Ŧ' -> "T", 'ſ' -> "s",
    // Latin Extended-B (common European/African orthography letters;
    // pinned golden pairs in CleanTextSpec — unidecode-style
    // transliteration, not a byte-for-byte unidecode table)
    'ƀ' -> "b", 'Ɓ' -> "B", 'ƃ' -> "b", 'Ƃ' -> "B", 'Ɔ' -> "O",
    'ƈ' -> "c", 'Ƈ' -> "C", 'ɖ' -> "d", 'Ɖ' -> "D", 'ƌ' -> "d",
    'Ƌ' -> "D", 'Ǝ' -> "E", 'Ɛ' -> "E", 'ƒ' -> "f", 'Ƒ' -> "F",
    'ǥ' -> "g", 'Ǥ' -> "G", 'Ɣ' -> "G", 'Ɩ' -> "I", 'Ɨ' -> "I",
    'ƙ' -> "k", 'Ƙ' -> "K", 'ƚ' -> "l", 'Ɵ' -> "O", 'ƞ' -> "n",
    'ƫ' -> "t", 'Ƭ' -> "T", 'ƭ' -> "t", 'Ʈ' -> "T", 'ƴ' -> "y",
    'Ƴ' -> "Y", 'ƶ' -> "z", 'Ƶ' -> "Z",
    'Ǆ' -> "DZ", 'ǅ' -> "Dz", 'ǆ' -> "dz", 'Ǉ' -> "LJ", 'ǈ' -> "Lj",
    'ǉ' -> "lj", 'Ǌ' -> "NJ", 'ǋ' -> "Nj", 'ǌ' -> "nj", 'Ǳ' -> "DZ",
    'ǲ' -> "Dz", 'ǳ' -> "dz",
    // Cyrillic (Russian core + Ukrainian/Belarusian/Serbian letters;
    // NFD-decomposable forms like й ё ї ў reach their base letters и е і у
    // before this table applies). Standard scientific/GOST-style
    // romanization.
    'а' -> "a", 'б' -> "b", 'в' -> "v", 'г' -> "g", 'д' -> "d",
    'е' -> "e", 'ж' -> "zh", 'з' -> "z", 'и' -> "i", 'к' -> "k",
    'л' -> "l", 'м' -> "m", 'н' -> "n", 'о' -> "o", 'п' -> "p",
    'р' -> "r", 'с' -> "s", 'т' -> "t", 'у' -> "u", 'ф' -> "f",
    'х' -> "kh", 'ц' -> "ts", 'ч' -> "ch", 'ш' -> "sh", 'щ' -> "shch",
    'ъ' -> "", 'ы' -> "y", 'ь' -> "", 'э' -> "e", 'ю' -> "yu",
    'я' -> "ya", 'і' -> "i", 'є' -> "ye", 'ґ' -> "g", 'ј' -> "j",
    'љ' -> "lj", 'њ' -> "nj", 'ђ' -> "dj", 'ћ' -> "c", 'џ' -> "dz",
    'ѓ' -> "g", 'ќ' -> "k", 'ѕ' -> "dz",
    'А' -> "A", 'Б' -> "B", 'В' -> "V", 'Г' -> "G", 'Д' -> "D",
    'Е' -> "E", 'Ж' -> "Zh", 'З' -> "Z", 'И' -> "I", 'К' -> "K",
    'Л' -> "L", 'М' -> "M", 'Н' -> "N", 'О' -> "O", 'П' -> "P",
    'Р' -> "R", 'С' -> "S", 'Т' -> "T", 'У' -> "U", 'Ф' -> "F",
    'Х' -> "Kh", 'Ц' -> "Ts", 'Ч' -> "Ch", 'Ш' -> "Sh", 'Щ' -> "Shch",
    'Ъ' -> "", 'Ы' -> "Y", 'Ь' -> "", 'Э' -> "E", 'Ю' -> "Yu",
    'Я' -> "Ya", 'І' -> "I", 'Є' -> "Ye", 'Ґ' -> "G", 'Ј' -> "J",
    'Љ' -> "Lj", 'Њ' -> "Nj", 'Ђ' -> "Dj", 'Ћ' -> "C", 'Џ' -> "Dz",
    'Ѓ' -> "G", 'Ќ' -> "K", 'Ѕ' -> "Dz",
    // Greek (modern monotonic; accented forms decompose to these bases)
    'α' -> "a", 'β' -> "b", 'γ' -> "g", 'δ' -> "d", 'ε' -> "e",
    'ζ' -> "z", 'η' -> "e", 'θ' -> "th", 'ι' -> "i", 'κ' -> "k",
    'λ' -> "l", 'μ' -> "m", 'ν' -> "n", 'ξ' -> "x", 'ο' -> "o",
    'π' -> "p", 'ρ' -> "r", 'σ' -> "s", 'ς' -> "s", 'τ' -> "t",
    'υ' -> "u", 'φ' -> "ph", 'χ' -> "ch", 'ψ' -> "ps", 'ω' -> "o",
    'Α' -> "A", 'Β' -> "B", 'Γ' -> "G", 'Δ' -> "D", 'Ε' -> "E",
    'Ζ' -> "Z", 'Η' -> "E", 'Θ' -> "Th", 'Ι' -> "I", 'Κ' -> "K",
    'Λ' -> "L", 'Μ' -> "M", 'Ν' -> "N", 'Ξ' -> "X", 'Ο' -> "O",
    'Π' -> "P", 'Ρ' -> "R", 'Σ' -> "S", 'Τ' -> "T", 'Υ' -> "U",
    'Φ' -> "Ph", 'Χ' -> "Ch", 'Ψ' -> "Ps", 'Ω' -> "O",
    // symbols / punctuation
    '€' -> "EUR", '£' -> "GBP", '«' -> "\"", '»' -> "\"",
    '‘' -> "'", '’' -> "'", '“' -> "\"", '”' -> "\"",
    '–' -> "-", '—' -> "-", ' ' -> " "
  ) ++ Kana ++ Hanzi

  /** Japanese kana — a CLOSED public set, romanized per character the
    * way unidecode does it (small kana fold to their large form's
    * romaji; no digraph contraction, so きゃ → "kiya" like unidecode,
    * not Hepburn "kya"). Katakana is generated from the hiragana table
    * at the fixed +0x60 block offset. Voiced forms (が, ぱ …) are
    * NFD-decomposable into base + U+3099/309A; [[AsciiFold.apply]]
    * recomposes those pairs before lookup so they reach this table.
    */
  // lazy: Extra's initializer above runs first and references this —
  // a plain val would still be null at that point (object init order)
  private lazy val Kana: Map[Char, String] = {
    val hira = Map(
      'ぁ' -> "a", 'あ' -> "a", 'ぃ' -> "i", 'い' -> "i", 'ぅ' -> "u",
      'う' -> "u", 'ぇ' -> "e", 'え' -> "e", 'ぉ' -> "o", 'お' -> "o",
      'か' -> "ka", 'が' -> "ga", 'き' -> "ki", 'ぎ' -> "gi",
      'く' -> "ku", 'ぐ' -> "gu", 'け' -> "ke", 'げ' -> "ge",
      'こ' -> "ko", 'ご' -> "go",
      'さ' -> "sa", 'ざ' -> "za", 'し' -> "shi", 'じ' -> "ji",
      'す' -> "su", 'ず' -> "zu", 'せ' -> "se", 'ぜ' -> "ze",
      'そ' -> "so", 'ぞ' -> "zo",
      'た' -> "ta", 'だ' -> "da", 'ち' -> "chi", 'ぢ' -> "ji",
      'っ' -> "tsu", 'つ' -> "tsu", 'づ' -> "zu", 'て' -> "te",
      'で' -> "de", 'と' -> "to", 'ど' -> "do",
      'な' -> "na", 'に' -> "ni", 'ぬ' -> "nu", 'ね' -> "ne",
      'の' -> "no",
      'は' -> "ha", 'ば' -> "ba", 'ぱ' -> "pa", 'ひ' -> "hi",
      'び' -> "bi", 'ぴ' -> "pi", 'ふ' -> "fu", 'ぶ' -> "bu",
      'ぷ' -> "pu", 'へ' -> "he", 'べ' -> "be", 'ぺ' -> "pe",
      'ほ' -> "ho", 'ぼ' -> "bo", 'ぽ' -> "po",
      'ま' -> "ma", 'み' -> "mi", 'む' -> "mu", 'め' -> "me",
      'も' -> "mo",
      'ゃ' -> "ya", 'や' -> "ya", 'ゅ' -> "yu", 'ゆ' -> "yu",
      'ょ' -> "yo", 'よ' -> "yo",
      'ら' -> "ra", 'り' -> "ri", 'る' -> "ru", 'れ' -> "re",
      'ろ' -> "ro",
      'ゎ' -> "wa", 'わ' -> "wa", 'ゐ' -> "wi", 'ゑ' -> "we",
      'を' -> "wo", 'ん' -> "n", 'ゔ' -> "vu")
    // katakana mirrors hiragana at a fixed block offset (ア = あ + 0x60)
    val kata = hira.map { case (c, r) => ((c + 0x60).toChar, r) }
    hira ++ kata ++ Map(
      'ー' -> "-", // long-vowel mark
      '、' -> ",", '。' -> ".", '「' -> "\"", '」' -> "\"",
      '『' -> "\"", '』' -> "\"", '・' -> " ")
  }

  /** Frequent-hanzi pinyin romanization — the r4 narrowing of the one
    * remaining unidecode divergence. unidecode's CJK table is open-ended
    * (~20k ideographs); this covers the high-frequency core (~600
    * characters from published frequency lists — public knowledge), in
    * unidecode's output convention: Title-case pinyin + trailing space
    * per character ("中文" → "Zhong Wen "). Note the convention survives
    * the clean_text chain exactly like the reference's: lower() runs
    * BEFORE unidecode there too, so the capital letter is stripped by
    * the `[a-z0-9\s,.!?']` whitelist in both engines. Polyphonic
    * characters take their dominant Mandarin reading. Characters outside
    * this table still drop — the divergence shrinks from "all hanzi"
    * to "rare hanzi", golden-pinned in CleanTextSpec.
    *
    * r5 widens the curated core with [[HanziExtended]] (~2.1k more
    * characters, committed snapshot resource) — measured Zipf(1) token
    * drop falls ~26% → ~10% (CleanTextSpec re-measures the constant).
    * The curated entries below stay authoritative: they are merged LAST
    * so a snapshot line can never override a golden-pinned reading.
    */
  private lazy val Hanzi: Map[Char, String] = HanziExtended ++ Map(
    // structural / grammatical core
    '的' -> "De ", '一' -> "Yi ", '是' -> "Shi ", '了' -> "Le ",
    '我' -> "Wo ", '不' -> "Bu ", '人' -> "Ren ", '在' -> "Zai ",
    '他' -> "Ta ", '有' -> "You ", '这' -> "Zhe ", '个' -> "Ge ",
    '上' -> "Shang ", '们' -> "Men ", '来' -> "Lai ", '到' -> "Dao ",
    '时' -> "Shi ", '大' -> "Da ", '地' -> "Di ", '为' -> "Wei ",
    '子' -> "Zi ", '中' -> "Zhong ", '你' -> "Ni ", '说' -> "Shuo ",
    '生' -> "Sheng ", '国' -> "Guo ", '年' -> "Nian ", '着' -> "Zhe ",
    '就' -> "Jiu ", '那' -> "Na ", '和' -> "He ", '要' -> "Yao ",
    '她' -> "Ta ", '出' -> "Chu ", '也' -> "Ye ", '得' -> "De ",
    '里' -> "Li ", '后' -> "Hou ", '自' -> "Zi ", '以' -> "Yi ",
    '会' -> "Hui ", '家' -> "Jia ", '可' -> "Ke ", '下' -> "Xia ",
    '而' -> "Er ", '过' -> "Guo ", '天' -> "Tian ", '去' -> "Qu ",
    '能' -> "Neng ", '对' -> "Dui ", '小' -> "Xiao ", '多' -> "Duo ",
    '然' -> "Ran ", '于' -> "Yu ", '心' -> "Xin ", '学' -> "Xue ",
    '么' -> "Me ", '之' -> "Zhi ", '都' -> "Dou ", '好' -> "Hao ",
    '看' -> "Kan ", '起' -> "Qi ", '发' -> "Fa ", '当' -> "Dang ",
    '没' -> "Mei ", '成' -> "Cheng ", '只' -> "Zhi ", '如' -> "Ru ",
    '事' -> "Shi ", '把' -> "Ba ", '还' -> "Hai ", '用' -> "Yong ",
    '第' -> "Di ", '样' -> "Yang ", '道' -> "Dao ", '想' -> "Xiang ",
    '作' -> "Zuo ", '种' -> "Zhong ", '开' -> "Kai ", '美' -> "Mei ",
    '总' -> "Zong ", '从' -> "Cong ", '无' -> "Wu ", '情' -> "Qing ",
    '己' -> "Ji ", '面' -> "Mian ", '最' -> "Zui ", '女' -> "Nu ",
    '但' -> "Dan ", '现' -> "Xian ", '前' -> "Qian ", '些' -> "Xie ",
    '所' -> "Suo ", '同' -> "Tong ", '日' -> "Ri ", '手' -> "Shou ",
    '又' -> "You ", '行' -> "Xing ", '意' -> "Yi ", '动' -> "Dong ",
    '方' -> "Fang ", '期' -> "Qi ", '它' -> "Ta ", '头' -> "Tou ",
    '经' -> "Jing ", '长' -> "Chang ", '儿' -> "Er ", '回' -> "Hui ",
    '位' -> "Wei ", '分' -> "Fen ", '爱' -> "Ai ", '老' -> "Lao ",
    '因' -> "Yin ", '很' -> "Hen ", '给' -> "Gei ", '名' -> "Ming ",
    '法' -> "Fa ", '间' -> "Jian ", '斯' -> "Si ", '知' -> "Zhi ",
    '世' -> "Shi ", '什' -> "Shen ", '两' -> "Liang ", '次' -> "Ci ",
    '使' -> "Shi ", '身' -> "Shen ", '者' -> "Zhe ", '被' -> "Bei ",
    '高' -> "Gao ", '已' -> "Yi ", '亲' -> "Qin ", '其' -> "Qi ",
    '进' -> "Jin ", '此' -> "Ci ", '话' -> "Hua ", '常' -> "Chang ",
    '与' -> "Yu ", '活' -> "Huo ", '正' -> "Zheng ", '感' -> "Gan ",
    '见' -> "Jian ", '明' -> "Ming ", '问' -> "Wen ", '力' -> "Li ",
    '理' -> "Li ", '尔' -> "Er ", '点' -> "Dian ", '文' -> "Wen ",
    '几' -> "Ji ", '定' -> "Ding ", '本' -> "Ben ", '公' -> "Gong ",
    '特' -> "Te ", '做' -> "Zuo ", '外' -> "Wai ", '孩' -> "Hai ",
    '相' -> "Xiang ", '西' -> "Xi ", '果' -> "Guo ", '走' -> "Zou ",
    '将' -> "Jiang ", '月' -> "Yue ", '十' -> "Shi ", '实' -> "Shi ",
    '向' -> "Xiang ", '声' -> "Sheng ", '车' -> "Che ", '全' -> "Quan ",
    '信' -> "Xin ", '重' -> "Zhong ", '三' -> "San ", '机' -> "Ji ",
    '工' -> "Gong ", '物' -> "Wu ", '气' -> "Qi ", '每' -> "Mei ",
    '并' -> "Bing ", '别' -> "Bie ", '真' -> "Zhen ", '打' -> "Da ",
    '太' -> "Tai ", '新' -> "Xin ", '比' -> "Bi ", '才' -> "Cai ",
    '便' -> "Bian ", '夫' -> "Fu ", '再' -> "Zai ", '书' -> "Shu ",
    '部' -> "Bu ", '水' -> "Shui ", '像' -> "Xiang ", '眼' -> "Yan ",
    '等' -> "Deng ", '体' -> "Ti ", '却' -> "Que ", '加' -> "Jia ",
    '电' -> "Dian ", '主' -> "Zhu ", '界' -> "Jie ", '门' -> "Men ",
    '利' -> "Li ", '海' -> "Hai ", '受' -> "Shou ", '听' -> "Ting ",
    '表' -> "Biao ", '德' -> "De ", '少' -> "Shao ", '克' -> "Ke ",
    '代' -> "Dai ", '员' -> "Yuan ", '许' -> "Xu ", '先' -> "Xian ",
    '口' -> "Kou ", '由' -> "You ", '死' -> "Si ", '安' -> "An ",
    '写' -> "Xie ", '性' -> "Xing ", '马' -> "Ma ", '光' -> "Guang ",
    '白' -> "Bai ", '或' -> "Huo ", '住' -> "Zhu ", '难' -> "Nan ",
    '望' -> "Wang ", '教' -> "Jiao ", '命' -> "Ming ", '花' -> "Hua ",
    '结' -> "Jie ", '乐' -> "Le ", '色' -> "Se ", '更' -> "Geng ",
    '拉' -> "La ", '东' -> "Dong ", '神' -> "Shen ", '记' -> "Ji ",
    '处' -> "Chu ", '让' -> "Rang ", '母' -> "Mu ", '父' -> "Fu ",
    '应' -> "Ying ", '直' -> "Zhi ", '字' -> "Zi ", '场' -> "Chang ",
    '平' -> "Ping ", '报' -> "Bao ", '友' -> "You ", '关' -> "Guan ",
    '放' -> "Fang ", '至' -> "Zhi ", '张' -> "Zhang ", '认' -> "Ren ",
    '接' -> "Jie ", '告' -> "Gao ", '入' -> "Ru ", '笑' -> "Xiao ",
    '内' -> "Nei ", '英' -> "Ying ", '军' -> "Jun ", '候' -> "Hou ",
    '民' -> "Min ", '岁' -> "Sui ", '往' -> "Wang ", '何' -> "He ",
    '度' -> "Du ", '山' -> "Shan ", '觉' -> "Jue ", '路' -> "Lu ",
    '带' -> "Dai ", '万' -> "Wan ", '男' -> "Nan ", '边' -> "Bian ",
    '风' -> "Feng ", '解' -> "Jie ", '叫' -> "Jiao ", '任' -> "Ren ",
    '金' -> "Jin ", '快' -> "Kuai ", '原' -> "Yuan ", '吃' -> "Chi ",
    '妈' -> "Ma ", '变' -> "Bian ", '通' -> "Tong ", '师' -> "Shi ",
    '立' -> "Li ", '象' -> "Xiang ", '数' -> "Shu ", '四' -> "Si ",
    '失' -> "Shi ", '满' -> "Man ", '战' -> "Zhan ", '远' -> "Yuan ",
    '格' -> "Ge ", '士' -> "Shi ", '音' -> "Yin ", '轻' -> "Qing ",
    '目' -> "Mu ", '条' -> "Tiao ", '呢' -> "Ne ", '病' -> "Bing ",
    '始' -> "Shi ", '达' -> "Da ", '深' -> "Shen ", '完' -> "Wan ",
    '今' -> "Jin ", '提' -> "Ti ", '求' -> "Qiu ", '清' -> "Qing ",
    '王' -> "Wang ", '化' -> "Hua ", '空' -> "Kong ", '业' -> "Ye ",
    '思' -> "Si ", '切' -> "Qie ", '怎' -> "Zen ", '非' -> "Fei ",
    '找' -> "Zhao ", '片' -> "Pian ", '罗' -> "Luo ", '钱' -> "Qian ",
    '吗' -> "Ma ", '语' -> "Yu ", '元' -> "Yuan ", '喜' -> "Xi ",
    '曾' -> "Zeng ", '离' -> "Li ", '飞' -> "Fei ", '科' -> "Ke ",
    '言' -> "Yan ", '干' -> "Gan ", '流' -> "Liu ", '欢' -> "Huan ",
    '约' -> "Yue ", '各' -> "Ge ", '即' -> "Ji ", '指' -> "Zhi ",
    '合' -> "He ", '反' -> "Fan ", '题' -> "Ti ", '必' -> "Bi ",
    '该' -> "Gai ", '论' -> "Lun ", '交' -> "Jiao ", '终' -> "Zhong ",
    '林' -> "Lin ", '请' -> "Qing ", '医' -> "Yi ", '晚' -> "Wan ",
    '制' -> "Zhi ", '球' -> "Qiu ", '决' -> "Jue ", '传' -> "Chuan ",
    '画' -> "Hua ", '保' -> "Bao ", '读' -> "Du ", '运' -> "Yun ",
    '及' -> "Ji ", '则' -> "Ze ", '房' -> "Fang ", '早' -> "Zao ",
    '院' -> "Yuan ", '量' -> "Liang ", '苦' -> "Ku ", '火' -> "Huo ",
    '布' -> "Bu ", '品' -> "Pin ", '近' -> "Jin ", '坐' -> "Zuo ",
    '产' -> "Chan ", '答' -> "Da ", '星' -> "Xing ", '精' -> "Jing ",
    '视' -> "Shi ", '五' -> "Wu ", '连' -> "Lian ", '司' -> "Si ",
    '巴' -> "Ba ", '奇' -> "Qi ", '管' -> "Guan ", '类' -> "Lei ",
    '未' -> "Wei ", '朋' -> "Peng ", '且' -> "Qie ", '婚' -> "Hun ",
    '台' -> "Tai ", '夜' -> "Ye ", '青' -> "Qing ", '北' -> "Bei ",
    '队' -> "Dui ", '久' -> "Jiu ", '乎' -> "Hu ", '越' -> "Yue ",
    '观' -> "Guan ", '落' -> "Luo ", '尽' -> "Jin ", '形' -> "Xing ",
    '影' -> "Ying ", '红' -> "Hong ", '爸' -> "Ba ", '百' -> "Bai ",
    '令' -> "Ling ", '周' -> "Zhou ", '吧' -> "Ba ", '识' -> "Shi ",
    '步' -> "Bu ", '希' -> "Xi ", '亚' -> "Ya ", '术' -> "Shu ",
    '留' -> "Liu ", '市' -> "Shi ", '半' -> "Ban ", '热' -> "Re ",
    '送' -> "Song ", '兴' -> "Xing ", '造' -> "Zao ", '谈' -> "Tan ",
    '容' -> "Rong ", '极' -> "Ji ", '随' -> "Sui ", '演' -> "Yan ",
    '收' -> "Shou ", '首' -> "Shou ", '根' -> "Gen ", '讲' -> "Jiang ",
    '整' -> "Zheng ", '式' -> "Shi ", '取' -> "Qu ", '照' -> "Zhao ",
    '办' -> "Ban ", '强' -> "Qiang ", '石' -> "Shi ", '古' -> "Gu ",
    '华' -> "Hua ", '拿' -> "Na ", '计' -> "Ji ", '您' -> "Nin ",
    '装' -> "Zhuang ", '似' -> "Si ", '足' -> "Zu ", '双' -> "Shuang ",
    '妻' -> "Qi ", '尼' -> "Ni ", '转' -> "Zhuan ", '诉' -> "Su ",
    '米' -> "Mi ", '称' -> "Cheng ", '丽' -> "Li ", '客' -> "Ke ",
    '南' -> "Nan ", '领' -> "Ling ", '节' -> "Jie ", '衣' -> "Yi ",
    '站' -> "Zhan ", '黑' -> "Hei ", '刻' -> "Ke ", '统' -> "Tong ",
    '断' -> "Duan ", '福' -> "Fu ", '城' -> "Cheng ", '故' -> "Gu ",
    '历' -> "Li ", '惊' -> "Jing ", '脸' -> "Lian ", '选' -> "Xuan ",
    '包' -> "Bao ", '紧' -> "Jin ", '争' -> "Zheng ", '另' -> "Ling ",
    '建' -> "Jian ", '维' -> "Wei ", '绝' -> "Jue ", '树' -> "Shu ",
    '系' -> "Xi ", '伤' -> "Shang ", '示' -> "Shi ", '愿' -> "Yuan ",
    '持' -> "Chi ", '千' -> "Qian ", '史' -> "Shi ", '谁' -> "Shui ",
    '准' -> "Zhun ", '联' -> "Lian ", '妇' -> "Fu ", '纪' -> "Ji ",
    '基' -> "Ji ", '买' -> "Mai ", '志' -> "Zhi ", '静' -> "Jing ",
    '阿' -> "A ", '诗' -> "Shi ", '独' -> "Du ", '复' -> "Fu ",
    '痛' -> "Tong ", '消' -> "Xiao ", '社' -> "She ", '算' -> "Suan ",
    '义' -> "Yi ", '竟' -> "Jing ", '确' -> "Que ", '酒' -> "Jiu ",
    '需' -> "Xu ", '单' -> "Dan ", '治' -> "Zhi ", '卡' -> "Ka ",
    '幸' -> "Xing ", '兰' -> "Lan ", '念' -> "Nian ", '举' -> "Ju ",
    '仅' -> "Jin ", '钟' -> "Zhong ", '怕' -> "Pa ", '共' -> "Gong ",
    '毛' -> "Mao ", '句' -> "Ju ", '息' -> "Xi ", '功' -> "Gong ",
    '官' -> "Guan ", '待' -> "Dai ", '究' -> "Jiu ", '跟' -> "Gen ",
    '穿' -> "Chuan ", '室' -> "Shi ", '易' -> "Yi ", '游' -> "You ",
    '程' -> "Cheng ", '号' -> "Hao ", '居' -> "Ju ", '考' -> "Kao ",
    '突' -> "Tu ", '皮' -> "Pi ", '虽' -> "Sui ", '座' -> "Zuo ",
    '油' -> "You ", '升' -> "Sheng ", '密' -> "Mi ", '土' -> "Tu ",
    '血' -> "Xue ", '速' -> "Su ", '验' -> "Yan ", '级' -> "Ji ",
    '技' -> "Ji ", '课' -> "Ke ", '委' -> "Wei ", '除' -> "Chu ",
    '设' -> "She ", '备' -> "Bei ", '区' -> "Qu ", '排' -> "Pai ",
    '简' -> "Jian ", '食' -> "Shi ", '香' -> "Xiang ", '据' -> "Ju ",
    '河' -> "He ", '适' -> "Shi ", '试' -> "Shi ", '角' -> "Jiao ",
    '线' -> "Xian ", '察' -> "Cha ", '图' -> "Tu ", '货' -> "Huo ",
    // numbers / time / geography / society
    '二' -> "Er ", '六' -> "Liu ", '七' -> "Qi ", '八' -> "Ba ",
    '九' -> "Jiu ", '零' -> "Ling ", '资' -> "Zi ", '京' -> "Jing ",
    '际' -> "Ji ", '政' -> "Zheng ", '府' -> "Fu ", '班' -> "Ban ",
    '组' -> "Zu ", '织' -> "Zhi ", '价' -> "Jia ", '层' -> "Ceng ",
    '型' -> "Xing ", '低' -> "Di ", '段' -> "Duan ", '般' -> "Ban ",
    '责' -> "Ze ", '商' -> "Shang ", '团' -> "Tuan ", '农' -> "Nong ",
    '村' -> "Cun ", '厂' -> "Chang ", '桥' -> "Qiao ", '街' -> "Jie ",
    '港' -> "Gang ", '省' -> "Sheng ", '县' -> "Xian ", '江' -> "Jiang ",
    '湖' -> "Hu ", '湾' -> "Wan ", '岛' -> "Dao ", '云' -> "Yun ",
    '雨' -> "Yu ", '雪' -> "Xue ", '冬' -> "Dong ", '夏' -> "Xia ",
    '秋' -> "Qiu ", '春' -> "Chun ", '季' -> "Ji ", '午' -> "Wu ",
    '昨' -> "Zuo ", '晨' -> "Chen ", '夕' -> "Xi ", '阳' -> "Yang ",
    '阴' -> "Yin ", '晴' -> "Qing ", '温' -> "Wen ", '冷' -> "Leng ",
    '暖' -> "Nuan ", '凉' -> "Liang ",
    // animals / nature / food
    '狗' -> "Gou ", '猫' -> "Mao ", '鸟' -> "Niao ", '鱼' -> "Yu ",
    '牛' -> "Niu ", '羊' -> "Yang ", '猪' -> "Zhu ", '鸡' -> "Ji ",
    '虎' -> "Hu ", '龙' -> "Long ", '蛇' -> "She ", '兔' -> "Tu ",
    '鼠' -> "Shu ", '猴' -> "Hou ", '森' -> "Sen ", '木' -> "Mu ",
    '田' -> "Tian ", '草' -> "Cao ", '叶' -> "Ye ", '菜' -> "Cai ",
    '饭' -> "Fan ", '茶' -> "Cha ", '肉' -> "Rou ", '蛋' -> "Dan ",
    '奶' -> "Nai ", '糖' -> "Tang ", '盐' -> "Yan ", '味' -> "Wei ",
    '甜' -> "Tian ", '辣' -> "La ", '酸' -> "Suan ",
    // technology / commerce / daily objects
    '网' -> "Wang ", '脑' -> "Nao ", '器' -> "Qi ", '件' -> "Jian ",
    '软' -> "Ruan ", '硬' -> "Ying ", '码' -> "Ma ", '户' -> "Hu ",
    '账' -> "Zhang ", '银' -> "Yin ", '股' -> "Gu ", '税' -> "Shui ",
    '费' -> "Fei ", '购' -> "Gou ", '卖' -> "Mai ", '店' -> "Dian ",
    '输' -> "Shu ", '铁' -> "Tie ", '航' -> "Hang ", '船' -> "Chuan ",
    '票' -> "Piao ", '旅' -> "Lu ", '馆' -> "Guan ", '楼' -> "Lou ",
    '梯' -> "Ti ", '窗' -> "Chuang ", '床' -> "Chuang ", '桌' -> "Zhuo ",
    '椅' -> "Yi ", '灯' -> "Deng ", '杯' -> "Bei ", '瓶' -> "Ping ",
    '盒' -> "He ", '箱' -> "Xiang ", '纸' -> "Zhi ", '笔' -> "Bi ",
    '墨' -> "Mo ", '药' -> "Yao ", '疗' -> "Liao ", '症' -> "Zheng ",
    '疼' -> "Teng ", '健' -> "Jian ", '康' -> "Kang ", '育' -> "Yu ",
    '练' -> "Lian ", '习' -> "Xi ", '训' -> "Xun ", '赛' -> "Sai ",
    '胜' -> "Sheng ", '败' -> "Bai ", '赢' -> "Ying ", '奖' -> "Jiang ",
    '罚' -> "Fa ", '规' -> "Gui ", '律' -> "Lu ", '例' -> "Li ",
    '案' -> "An ", '判' -> "Pan ", '罪' -> "Zui ", '警' -> "Jing ",
    '狱' -> "Yu ", '兵' -> "Bing ", '武' -> "Wu ", '枪' -> "Qiang ",
    '炮' -> "Pao ", '弹' -> "Dan ", '爆' -> "Bao ", '炸' -> "Zha ",
    '灾' -> "Zai ", '震' -> "Zhen ", '险' -> "Xian ", '救' -> "Jiu ",
    '援' -> "Yuan ", '防' -> "Fang ", '卫' -> "Wei ", '护' -> "Hu ",
    '环' -> "Huan ", '境' -> "Jing ", '污' -> "Wu ", '染' -> "Ran ",
    '绿' -> "Lu ", '蓝' -> "Lan ", '黄' -> "Huang ", '紫' -> "Zi ",
    '灰' -> "Hui ", '棕' -> "Zong ", '粉' -> "Fen ", '铜' -> "Tong ",
    '钢' -> "Gang ", '铝' -> "Lu ", '塑' -> "Su ", '料' -> "Liao ",
    '玻' -> "Bo ", '璃' -> "Li ", '陶' -> "Tao ", '瓷' -> "Ci ",
    // CJK fullwidth punctuation (beyond the kana block's); \u escapes —
    // fullwidth source literals are too easy to mangle into their ASCII
    // lookalikes invisibly
    '，' -> ", ", '：' -> ": ", '；' -> "; ",
    '！' -> "! ", '？' -> "? ", '（' -> " (",
    '）' -> ") ", '《' -> "\"", '》' -> "\"",
    '【' -> "[", '】' -> "]", '％' -> "%")

  /** Extended hanzi→pinyin snapshot (r5): ~2.1k further characters,
    * parsed once per JVM from the committed resource
    * `graft/hanzi_pinyin_snapshot.dat` (tab-separated `char\tPinyin`,
    * dominant toneless reading, Title-case — same output convention as
    * the inline table; the trailing space is appended here). Provenance:
    * generated by `tools/gen_hanzi_pinyin.py` from glibc locale data
    * (`iso14651_t1_pinyin` — pinyin collation order + corpus
    * frequencies; the FSF disclaims copyright interest in glibc locale
    * data) by anchor interpolation between same-syllable curated
    * entries, cross-checked against the Perl core
    * Unicode::Collate::CJK::Pinyin initial-letter buckets. Pinyin
    * readings themselves are uncopyrightable facts. Merged BEFORE the
    * curated map, which therefore wins on any overlap.
    */
  private lazy val HanziExtended: Map[Char, String] = {
    val in = getClass.getResourceAsStream("/graft/hanzi_pinyin_snapshot.dat")
    require(in != null, "hanzi_pinyin_snapshot.dat missing from classpath")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      src.getLines()
        .filterNot(l => l.isEmpty || l.startsWith("#"))
        .map { l =>
          val t = l.split('\t')
          require(t.length == 2 && t(0).length == 1 && t(1).nonEmpty,
            s"malformed hanzi snapshot line: $l")
          t(0).charAt(0) -> (t(1) + " ")
        }
        .toMap
    } finally src.close()
  }

  def apply(s: String): String = {
    // NFD FIRST: decomposable letters (é, й, ё, ά …) split into base +
    // combining marks, the marks are stripped, and the base letter (which
    // may itself be non-ASCII — Cyrillic и, Greek α) then transliterates
    // through the table. No table entry has an NFD decomposition, so
    // table outputs never need re-normalizing. (Pre-r3 the table ran
    // before NFD, so accented Cyrillic/Greek never reached it.)
    val nfd = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    val sb = new StringBuilder(nfd.length)
    var i = 0
    while (i < nfd.length) {
      var c = nfd.charAt(i)
      var step = 1
      // kana voiced/semi-voiced marks (U+3099/309A) DECOMPOSE under NFD
      // (が → か + ◌゙); stripping them like accents would fold が to "ka".
      // Recompose the pair so the voiced form reaches the Kana table.
      if (i + 1 < nfd.length) {
        val m = nfd.charAt(i + 1)
        if (m == '゙' || m == '゚') {
          val comp = java.text.Normalizer.normalize(
            new String(Array(c, m)), java.text.Normalizer.Form.NFC)
          if (comp.length == 1) { c = comp.charAt(0); step = 2 }
        }
      }
      if (Character.getType(c) != Character.NON_SPACING_MARK) {
        if (c < 128) sb.append(c)
        else Extra.get(c) match {
          case Some(t) => sb.append(t)
          case None    => () // drop untransliterated non-ASCII (hanzi etc.)
        }
      }
      i += step
    }
    sb.toString
  }
}

/** Public-suffix rules, parsed once per JVM from the committed snapshot
  * resource (`graft/public_suffix_snapshot.dat` — the COMPLETE public
  * Mozilla PSL, ICANN + PRIVATE sections, ~9.5k rules; tldextract, the
  * reference's dependency, uses both sections by default).
  * Implements the full PSL matching algorithm: the
  * prevailing rule is the longest match among exact, wildcard (`*.` =
  * exactly one extra label) and exception (`!` beats everything and drops
  * its leftmost label); with no match the default rule `*` applies (the
  * last label is the public suffix).
  */
object PublicSuffixes {
  private lazy val (exact: Set[String], wildcard: Set[String],
      exception: Set[String]) = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_snapshot.dat")
    require(in != null, "public_suffix_snapshot.dat missing from classpath")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      val rules = src.getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("//")).toVector
      (rules.filter(r => !r.startsWith("*.") && !r.startsWith("!")).toSet,
        rules.filter(_.startsWith("*.")).map(_.drop(2)).toSet,
        rules.filter(_.startsWith("!")).map(_.drop(1)).toSet)
    } finally src.close()
  }

  /** Number of labels in `host`'s public suffix (host assumed lowercase,
    * no trailing dot). Exception rules win; otherwise the longest of the
    * exact/wildcard matches; otherwise 1 (the default `*` rule).
    */
  def suffixLabels(host: String): Int = {
    val labels = host.split('.')
    val n = labels.length
    var best = 1
    var i = n - 1
    while (i >= 0) {
      val candidate = labels.slice(i, n).mkString(".")
      if (exception.contains(candidate)) return n - i - 1
      if (exact.contains(candidate)) best = math.max(best, n - i)
      // wildcard "*.tail" matches candidate = <one label>.tail
      if (i + 1 < n && wildcard.contains(labels.slice(i + 1, n).mkString(".")))
        best = math.max(best, n - i)
      i -= 1
    }
    best
  }
}

/** Registrable host/domain extraction — reimplements the fqdn membership
  * semantics of the reference's tldextract use
  * (/root/reference/utils/data_util.py:34-38) over the full PSL
  * algorithm with a committed rule snapshot (see [[PublicSuffixes]];
  * behavior pinned against tldextract by tests). Returns fqdn and
  * registrableDomain (eTLD+1).
  */
object DomainOf {

  def fqdn(url: String): String = {
    if (url == null) return ""
    var s = url
    val scheme = s.indexOf("://")
    if (scheme >= 0) s = s.substring(scheme + 3)
    val at = s.indexOf('@')
    if (at >= 0 && at < math.max(s.indexOf('/'), s.length)) {
      val slash = s.indexOf('/')
      if (slash < 0 || at < slash) s = s.substring(at + 1)
    }
    var end = s.length
    for (c <- Seq('/', '?', '#', ':')) {
      val i = s.indexOf(c)
      if (i >= 0 && i < end) end = i
    }
    s.substring(0, end).toLowerCase(java.util.Locale.ROOT).stripSuffix(".")
  }

  /** eTLD+1 under the PSL snapshot. Hosts that ARE a public suffix (or
    * shorter) and IPv4 literals return themselves — grouping keys must be
    * total, so "no registrable domain" degrades to the host (tldextract
    * returns an empty domain part there; for corpus domain-statistics a
    * total key is the useful contract).
    */
  def registrable(url: String): String = {
    val host = fqdn(url)
    if (host.isEmpty) return ""
    val parts = host.split('.')
    if (parts.length >= 4 && parts.forall(p =>
        p.nonEmpty && p.length <= 3 && p.forall(_.isDigit)))
      return host // IPv4 literal
    val ps = PublicSuffixes.suffixLabels(host)
    if (parts.length <= ps) host
    else parts.takeRight(ps + 1).mkString(".")
  }
}
