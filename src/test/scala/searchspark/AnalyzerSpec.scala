package searchspark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import searchspark.analyze.Analyzer

/** B1–B5 golden cases (SURVEY.md §5.1) + Scala-vs-Catalyst agreement. */
class AnalyzerSpec extends AnyFunSuite {

  test("B1 tokenize: lowercase, non-alphabet → space, split") {
    assert(Analyzer.tokenize("Hello, World! 42x").toSeq ==
      Seq("hello", "world", "42x"))
    assert(Analyzer.tokenize("  ").isEmpty)
    assert(Analyzer.tokenize("").isEmpty)
    assert(Analyzer.tokenize(null).isEmpty)
    assert(Analyzer.tokenize("don't STOP-me").toSeq == Seq("don", "t", "stop", "me"))
  }

  test("B2 short-token filter keeps 'a'/'i' only (reference keeps 'я')") {
    assert(!Analyzer.keepToken("x"))
    assert(Analyzer.keepToken("a"))
    assert(Analyzer.keepToken("i"))
    assert(Analyzer.keepToken("ab"))
  }

  test("B3 stop filter drops prep/conj/particle classes, keeps pronouns") {
    assert(!Analyzer.notStopword("the"))
    assert(!Analyzer.notStopword("of"))
    assert(!Analyzer.notStopword("and"))
    assert(Analyzer.notStopword("i"))    // pronoun survives, like "я"
    assert(Analyzer.notStopword("they"))
    assert(Analyzer.notStopword("query"))
  }

  test("B4 lemmatizer rules, first match wins") {
    assert(Analyzer.lemma("cat") == "cat")          // len<=3 untouched
    assert(Analyzer.lemma("classes") == "class")    // sses -> ss
    assert(Analyzer.lemma("glasses") == "glass")
    assert(Analyzer.lemma("stories") == "story")    // ies -> y
    assert(Analyzer.lemma("pass") == "pass")        // ss kept
    assert(Analyzer.lemma("tables") == "table")     // s dropped
    assert(Analyzer.lemma("running") == "runn")     // ing dropped (no undoubling — by spec)
    assert(Analyzer.lemma("indexed") == "index")    // ed dropped
    assert(Analyzer.lemma("red") == "red")          // too short for ed rule
    assert(Analyzer.lemma("w1234s") == "w1234")
    assert(Analyzer.lemma("w1234ing") == "w1234")
    assert(Analyzer.lemma("w1234ed") == "w1234")
    assert(Analyzer.lemma("w1234") == "w1234")
  }

  test("B5 term frequencies") {
    val tf = Analyzer.termFreqs("Tables table the TABLE tables! i x of")
    assert(tf == Map("table" -> 4, "i" -> 1))
  }

  test("analyzeQuery: distinct ascending") {
    assert(Analyzer.analyzeQuery("tables query table QUERY zebra") ==
      Seq("query", "table", "zebra"))
  }

  test("RU config mirrors LemmaFinder: alphabet, я keep-list, exceptions") {
    val ru = searchspark.analyze.Analyzers.Ru
    // B1: [^а-яё] → space (LemmaFinder.java:105) — latin/digits vanish
    assert(ru.tokenize("Привет, мир! HTTP 404 ещё").toSeq ==
      Seq("привет", "мир", "ещё"))
    // B2: "я" is the only 1-char survivor (LemmaFinder.java:40)
    assert(ru.keepToken("я") && !ru.keepToken("а") && !ru.keepToken("и"))
    // B3: particles/preps/conjs stopped; pronouns survive
    assert(!ru.notStopword("и") && !ru.notStopword("на") && !ru.notStopword("бы"))
    assert(ru.notStopword("я") && ru.notStopword("ты"))
    // B4: exception dict wins over rules (first-normal-form analog)
    assert(ru.lemma("люди") == "человек")
    assert(ru.lemma("шёл") == "идти")
    // round-5 generator classes: participles, prefixed aspect pairs,
    // -еть conjugation, irregular plurals — all land on DICTIONARY forms
    assert(ru.lemma("читающий") == "читать" && ru.lemma("читающего") == "читать")
    assert(ru.lemma("читавший") == "читать" && ru.lemma("читая") == "читать")
    assert(ru.lemma("говорящий") == "говорить" && ru.lemma("говоривший") == "говорить")
    assert(ru.lemma("прочитал") == "прочитать" && ru.lemma("прочитав") == "прочитать")
    assert(ru.lemma("прочитанный") == "прочитать" && ru.lemma("прочитана") == "прочитать")
    assert(ru.lemma("сделаю") == "сделать" && ru.lemma("сделанные") == "сделать")
    assert(ru.lemma("сидит") == "сидеть" && ru.lemma("сидел") == "сидеть"
      && ru.lemma("сидящий") == "сидеть" && ru.lemma("сидевший") == "сидеть")
    assert(ru.lemma("друзья") == "друг" && ru.lemma("друзьями") == "друг")
    assert(ru.lemma("стулья") == "стул" && ru.lemma("деревьев") == "дерево")
    assert(ru.lemma("имена") == "имя" && ru.lemma("матери") == "мать")
    // aspect pair stays two lemmas (reference morphology behavior)
    assert(ru.lemma("читал") == "читать" && ru.lemma("прочитал") == "прочитать")
    // B4: lexicon-covered inflections land on the DICTIONARY form
    assert(ru.lemma("столы") == "стол" && ru.lemma("столами") == "стол"
      && ru.lemma("столах") == "стол" && ru.lemma("стола") == "стол")
    assert(ru.lemma("книги") == "книга" && ru.lemma("книга") == "книга")
    assert(ru.lemma("читаю") == "читать" && ru.lemma("читает") == "читать"
      && ru.lemma("читали") == "читать")
    // full pipeline: "я" survives, stopwords out, lemmas applied
    assert(ru.analyze("Я читаю книги и книга на столах").toSeq ==
      Seq("я", "читать", "книга", "книга", "стол"))
  }

  test("RU lemmatizer accuracy floor on a held-out golden set") {
    val ru = searchspark.analyze.Analyzers.Ru
    // NONE of these lexemes are in RuLexicon — this measures the suffix
    // rules' tail quality (the reference's morphology jar would be ~1.0;
    // the floor quantifies the honest gap instead of hand-waving it).
    // Metric: a (form, lexeme) pair is correct when the form maps to its
    // lexeme's majority stem.
    val golden: Seq[(String, Seq[String])] = Seq(
      "завод" -> Seq("завод", "завода", "заводу", "заводом", "заводе",
        "заводы", "заводов", "заводам", "заводами", "заводах"),
      "машина" -> Seq("машина", "машины", "машине", "машину", "машиной",
        "машинам", "машинами", "машинах"),
      "дорога" -> Seq("дорога", "дороги", "дороге", "дорогу", "дорогой",
        "дорогам", "дорогами", "дорогах"),
      "гора" -> Seq("гора", "горы", "горе", "гору", "горой",
        "горам", "горами", "горах"),
      "окно" -> Seq("окно", "окна", "окну", "окном", "окне",
        "окнам", "окнами", "окнах"),
      "театр" -> Seq("театр", "театра", "театру", "театром", "театре",
        "театры", "театров", "театрам", "театрах"),
      "мост" -> Seq("мост", "моста", "мосту", "мостом", "мосте",
        "мосты", "мостов", "мостам", "мостах"),
      "лампа" -> Seq("лампа", "лампы", "лампе", "лампу", "лампой",
        "лампам", "лампами", "лампах"),
      "старый" -> Seq("старый", "старого", "старому", "старым", "старом",
        "старая", "старую", "старые", "старых", "старыми"),
      "умный" -> Seq("умный", "умного", "умному", "умным", "умном",
        "умная", "умную", "умные", "умных", "умными"),
      "играть" -> Seq("играть", "играю", "играет", "играют", "играл",
        "играла", "играли", "играется"),
      "гулять" -> Seq("гулять", "гуляет", "гуляют", "гулял",
        "гуляла", "гуляли"),
      // round-4 additions: soft-stem nouns, the -ие/-ия class, -еть
      // verbs — the classes the round-3 floor (0.80) was losing
      "модель" -> Seq("модель", "модели", "моделью", "моделей",
        "моделям", "моделями", "моделях"),
      "значение" -> Seq("значение", "значения", "значению", "значением",
        "значении", "значений", "значениях", "значениями"),
      "неделя" -> Seq("неделя", "недели", "неделю", "неделей",
        "неделям", "неделями", "неделях"),
      "станция" -> Seq("станция", "станции", "станцию", "станцией",
        "станциям", "станциями", "станциях"),
      "смотреть" -> Seq("смотреть", "смотрю", "смотрит", "смотрят",
        "смотрел", "смотрела", "смотрели"),
      // round-5 additions: a soft feminine -ь noun, a second -еть verb
      // (the held-out probe of the VerbEt class the lexicon now covers
      // for its OWN lexemes — this one must survive on rules alone),
      // and two regular nouns
      "площадь" -> Seq("площадь", "площади", "площадью", "площадей",
        "площадям", "площадями", "площадях"),
      "видеть" -> Seq("видеть", "вижу", "видит", "видят",
        "видел", "видела", "видели"),
      "журнал" -> Seq("журнал", "журнала", "журналу", "журналом",
        "журнале", "журналы", "журналов", "журналам", "журналах"),
      "вечер" -> Seq("вечер", "вечера", "вечеру", "вечером", "вечере",
        "вечерам", "вечерами", "вечерах"),
      "корабль" -> Seq("корабль", "корабля", "кораблю", "кораблем",
        "корабли", "кораблей", "кораблям", "кораблями", "кораблях"))
    golden.foreach { case (lex, forms) =>
      assert(!ru.exceptions.contains(lex) && forms.forall(f => !ru.exceptions.contains(f)),
        s"golden lexeme $lex leaked into the lexicon — the set must stay held-out")
    }
    val perLexeme = golden.map { case (lex, forms) =>
      val stems = forms.map(ru.lemma)
      val majority = stems.groupBy(identity).maxBy(g => (g._2.length, g._1))._1
      (lex, majority, stems.count(_ == majority), forms.length)
    }
    val correct = perLexeme.map(_._3).sum
    val totalForms = perLexeme.map(_._4).sum
    val acc = correct.toDouble / totalForms
    info(f"held-out form-level stem consistency: $correct/$totalForms = $acc%.3f")
    // measured 173/178 = 0.972 — the residual failures are consonant
    // mutation (вижу → виж vs вид) and the documented -ал/-ел noun tax,
    // both genuinely lexicon-class; the floor pins the rules' real level
    assert(totalForms == 178 && correct >= 173,
      f"RU tail accuracy regressed: $correct/$totalForms = $acc%.3f < 173/178")
    // purity: no two held-out lexemes may collapse onto one stem
    val reps = perLexeme.map(_._2)
    assert(reps.distinct.size == reps.size,
      s"distinct lexemes collided on stems: ${reps.mkString(", ")}")
  }

  test("RU Catalyst column pipeline == pure Scala pipeline") {
    val spark = TestSpark.spark
    import spark.implicits._
    val ru = searchspark.analyze.Analyzers.Ru
    val texts = searchspark.analyze.RuFixture.texts.map(_._2)
    val df = texts.toDF("text")
    val sparkSide = df.select(ru.tokensCol(col("text")).as("toks"))
      .select(explode(col("toks")).as("tok"))
      .filter(length(col("tok")) > 1 || col("tok").isInCollection(ru.keepShort.toSeq.sorted))
      .filter(!col("tok").isInCollection(ru.stopwords.toIndexedSeq))
      .select(ru.lemmaCol(col("tok")).as("term"))
      .as[String].collect().toSeq
    val scalaSide = texts.flatMap(t => ru.analyze(t))
    assert(sparkSide == scalaSide)
  }

  test("Catalyst column pipeline == pure Scala pipeline on generated text") {
    val spark = TestSpark.spark
    import spark.implicits._
    val texts = searchspark.gen.TranscriptGen.localCorpus(42L, 5).map(_.text) ++
      Seq("", "   ", "Hello, World! 42x", "don't STOP-me a i x the",
        "classes stories pass running indexed")
    val df = texts.toDF("text")
    val sparkSide = df.select(
      Analyzer.tokensCol(col("text")).as("toks"))
      .select(explode(col("toks")).as("tok"))
      .filter(length(col("tok")) > 1 || col("tok").isInCollection(Analyzer.KeepShort.toSeq.sorted))
      .filter(!col("tok").isInCollection(Analyzer.Stopwords.toIndexedSeq))
      .select(Analyzer.lemmaCol(col("tok")).as("term"))
      .as[String].collect().toSeq
    val scalaSide = texts.flatMap(t => Analyzer.analyze(t))
    assert(sparkSide.sorted == scalaSide.sorted)
    assert(sparkSide == scalaSide) // order-preserving too (explode keeps order)
  }
}
