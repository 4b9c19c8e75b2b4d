package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.UmlsExportMain.{Flags, parseFlags}

/** The command line's flags: each known flag sets its option, and any
  * other flag, or `--master` without its value, is an error naming it. */
class UmlsExportMainSpec extends AnyFunSuite {

  test("no flags: the defaults") {
    assert(parseFlags(Nil) === Right(Flags()))
    assert(Flags().master === "local[*]")
  }

  test("each known flag sets its option") {
    assert(parseFlags(List("--strict")) === Right(Flags(strict = true)))
    assert(parseFlags(List("--only-current")) ===
      Right(Flags(onlyCurrent = true)))
    assert(parseFlags(List("--no-dedupe")) === Right(Flags(noDedupe = true)))
    assert(parseFlags(List("--shared-scan")) ===
      Right(Flags(sharedScan = true)))
    assert(parseFlags(List("--master", "local[2]")) ===
      Right(Flags(master = "local[2]")))
    assert(parseFlags(List("--shared-scan", "--master", "local[2]",
        "--strict", "--only-current", "--no-dedupe")) ===
      Right(Flags(strict = true, onlyCurrent = true, noDedupe = true,
        sharedScan = true, master = "local[2]")))
  }

  test("--master without a value is an error") {
    assert(parseFlags(List("--master")) === Left("--master needs a value"))
    assert(parseFlags(List("--master", "--strict")) ===
      Left("--master needs a value"))
  }

  test("an unknown or misspelt flag is an error naming it") {
    assert(parseFlags(List("--shared-scan", "--parallel", "4")) ===
      Left("unknown flag --parallel"))
    assert(parseFlags(List("--stirct")) === Left("unknown flag --stirct"))
    assert(parseFlags(List("local[2]")) === Left("unknown flag local[2]"))
  }
}
