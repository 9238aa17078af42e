package graft.cli

import org.scalatest.funsuite.AnyFunSuite

/** Flag-parsing contract for the CLI loaders: a typo'd or stray flag is
  * a hard error, never a silent fall-through to the default warehouse
  * directory (a load landing in ./warehouse when the operator asked for
  * /data/wh is a data-placement incident, not a default). */
class CliSpec extends AnyFunSuite {

  test("dirs: defaults when no flags given") {
    assert(Cli.dirs(Nil) == ("warehouse", "rejects"))
  }

  test("dirs: both flags parse in either order") {
    assert(Cli.dirs(Seq("--warehouse", "/w", "--rejects", "/r")) == ("/w", "/r"))
    assert(Cli.dirs(Seq("--rejects", "/r", "--warehouse", "/w")) == ("/w", "/r"))
  }

  test("dirs: unknown flag is a hard error, not a silent default") {
    val e = intercept[RuntimeException] {
      Cli.dirs(Seq("--warehose", "/x"))
    }
    assert(e.getMessage.contains("--warehose"))
  }

  test("dirs: known flag whose 'value' is itself a flag is a hard error") {
    // `--warehouse --rejects` (forgotten value, even argv) must not parse
    // as warehouse dir literally "--rejects" with rejects defaulting
    val e = intercept[RuntimeException] {
      Cli.dirs(Seq("--warehouse", "--rejects"))
    }
    assert(e.getMessage.contains("missing a value"))
    val e2 = intercept[RuntimeException] {
      Cli.dirs(Seq("--rejects", "--warehouse", "/w", "x"))
    }
    assert(e2.getMessage.contains("missing a value"))
  }

  test("dirs: stray trailing argument is a hard error") {
    val e = intercept[RuntimeException] {
      Cli.dirs(Seq("--warehouse", "/w", "oops"))
    }
    assert(e.getMessage.contains("oops"))
  }

  test("flags: Report's flag set goes through the same parser") {
    assert(Cli.flags(Seq("--week", "2023-01-06", "--warehouse", "/w"), Report.flagNames) ==
      Map("--week" -> "2023-01-06", "--warehouse" -> "/w"))
    val unknown = intercept[RuntimeException] {
      Cli.flags(Seq("--rejects", "/r"), Report.flagNames)
    }
    assert(unknown.getMessage.contains("--rejects"))
    val missing = intercept[RuntimeException] {
      Cli.flags(Seq("--data-date", "--ownership", "x"), Report.flagNames)
    }
    assert(missing.getMessage.contains("missing a value"))
    val stray = intercept[RuntimeException] {
      Cli.flags(Seq("--ownership", "Government", "oops"), Report.flagNames)
    }
    assert(stray.getMessage.contains("oops"))
  }

  test("date: a yyyy-MM-dd argument parses, anything else names its flag") {
    assert(Cli.date("--week", "2023-01-06") == java.time.LocalDate.of(2023, 1, 6))
    Seq("2023-02-30", "2023-13-45", "2023-1-6", "20230106", "").foreach { v =>
      val e = intercept[IllegalArgumentException](Cli.date("--data-date", v))
      assert(e.getMessage == s"--data-date must be a yyyy-MM-dd date, got '$v'")
    }
  }

  test("LoadQuality rejects an impossible date before a session starts") {
    val e = intercept[IllegalArgumentException] {
      LoadQuality.main(Array("2023-02-30", "missing.csv"))
    }
    assert(e.getMessage == "first argument must be a yyyy-MM-dd date, got '2023-02-30'")
  }
}
