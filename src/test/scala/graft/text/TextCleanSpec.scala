package graft.text

import org.scalatest.funsuite.AnyFunSuite

/**
 * Golden input->output pairs for the cleaning chain, covering every
 * regex rule of the reference (`utils/Helper.scala:77-84`) plus
 * emoji/emoticon substitution with the fixed semantics (SURVEY.md Q2).
 */
class TextCleanSpec extends AnyFunSuite {

  test("cleanString: lowercase + quote removal") {
    assert(TextClean.cleanString("Hello \"World\" it's me") === "hello world its me")
  }

  test("cleanString: line breaks and tabs removed") {
    assert(TextClean.cleanString("a\nb\tc\rd") === "abcd")
  }

  test("cleanString: rt prefix, @mentions, hashtags, urls dropped") {
    assert(TextClean.cleanString("RT @user: check #spark http://t.co/xyz now")
      === ": check spark now")
  }

  test("cleanString: whitespace squeezed") {
    assert(TextClean.cleanString("a   b    c") === "a b c")
  }

  test("cleanText substitutes emoticons via the tweet tokenizer") {
    val out = TextClean.cleanText(Emoji.base)("i am :) about it")
    assert(out.contains("happy"))
    assert(!out.contains("Some("))
  }

  test("cleanTextAndStem stems before cleaning (reference order)") {
    // stemming runs on raw text first; "running" -> "run"
    val out = TextClean.cleanTextAndStem(Emoji.base)("running quickly")
    assert(out.startsWith("run"))
  }

  test("stemString maps each space-separated token") {
    assert(TextClean.stemString("dogs caresses") === "dog caress")
  }

  test("cleanText builds its emoji lookup once, also from a deserialized table or chain") {
    def roundTrip[T](x: T): T = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(x)
      out.close()
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
        .readObject().asInstanceOf[T]
    }
    val builds = TextClean.EmojiLookup.builds
    // a task's copy of the table is not the driver's instance
    val table = roundTrip(Emoji.fromResourceTable)
    assert(!(table eq Emoji.fromResourceTable))
    val before = builds.get
    val chain = TextClean.cleanTextAndStem(table)
    assert(builds.get === before + 1)
    val shipped = roundTrip(chain)
    val rows = (1 to 50).map(i => s"row $$i :) running \u2764 http://t.co/$$i")
    val want = rows.map(TextClean.cleanTextAndStem(Emoji.fromResourceTable))
    val afterBuild = builds.get
    assert(rows.map(chain) === want)
    assert(rows.map(shipped) === want)
    assert(builds.get === afterBuild, "a row rebuilt the emoji lookup")
  }
}
