package graft.wod

import java.nio.file.{Files, Paths}

import org.scalactic.source
import org.scalatest.funsuite.AnyFunSuite

import graft.TestDirs

/** The WOD members the specs and tools read. */
object WodFixtures {

  /** The generated corpus ([[WodCorpus]]), written once per JVM to a
    * temp directory that is deleted when the JVM exits. Its readers
    * read it or copy out of it; none writes into it.
    */
  lazy val dir: String = {
    val d = Files.createTempDirectory("wodcorpus")
    sys.addShutdownHook(TestDirs.deleteTree(d))
    WodCorpus.write(d).toString
  }

  /** Names the reference's own fixture directory (its
    * `src/test/resources/wod`), whose six members NOAA wrote.
    */
  val ReferenceEnv = "GRAFT_WOD_REFERENCE_FIXTURES"

  /** The reference's fixture directory, where [[ReferenceEnv]] names one. */
  lazy val reference: Option[String] =
    sys.env.get(ReferenceEnv).filter(p => Files.isDirectory(Paths.get(p)))
}

/** A suite whose fixture tests run twice: under their own name on the
  * generated corpus, and under the same name marked "NOAA-written
  * members" on the reference's fixtures, wherever
  * [[WodFixtures.ReferenceEnv]] names them (cancelled elsewhere). The
  * generated corpus is built to carry the values the tests check, so
  * only the second run checks the parser against records that another
  * encoder wrote.
  */
trait WodFixtureSuite extends AnyFunSuite {

  protected def fixtureTest(name: String)(body: String => Unit)(
      implicit pos: source.Position): Unit = {
    test(name)(body(WodFixtures.dir))
    test(s"$name (NOAA-written members)") {
      assume(WodFixtures.reference.isDefined,
        s"${WodFixtures.ReferenceEnv} names no directory")
      body(WodFixtures.reference.get)
    }
  }
}
