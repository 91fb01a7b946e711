package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s engine record names the commit it ran from, read from the git
  * dir's files alone. */
class BenchSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {

  private val sha = "0123456789abcdef0123456789abcdef01234567"
  private val made = scala.collection.mutable.Buffer[Path]()

  override def afterAll(): Unit = made.foreach { d =>
    import scala.jdk.CollectionConverters._
    Files.walk(d).iterator.asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.delete)
  }

  private def gitDir(files: (String, String)*): Path = {
    val git = Files.createTempDirectory("graft_bench_git")
    made += git
    files.foreach { case (name, text) =>
      val f = git.resolve(name)
      Files.createDirectories(f.getParent)
      Files.writeString(f, text)
    }
    git
  }

  test("gitSha resolves a loose ref, a packed ref and a detached HEAD") {
    assert(Bench.gitSha(gitDir("HEAD" -> "ref: refs/heads/main\n",
      "refs/heads/main" -> (sha + "\n"))) === sha)
    assert(Bench.gitSha(gitDir("HEAD" -> "ref: refs/heads/main\n",
      "packed-refs" -> ("# pack-refs with: peeled fully-peeled sorted\n" +
        "ffffffffffffffffffffffffffffffffffffffff refs/heads/other\n" +
        sha + " refs/heads/main\n"))) === sha)
    assert(Bench.gitSha(gitDir("HEAD" -> (sha + "\n"))) === sha)
  }

  test("gitSha is \"unknown\" outside a checkout or for an unresolvable ref") {
    assert(Bench.gitSha(gitDir().resolve(".git")) === "unknown")
    assert(Bench.gitSha(gitDir("HEAD" -> "ref: refs/heads/gone\n")) === "unknown")
    assert(Bench.gitSha(gitDir("HEAD" -> "not a sha\n")) === "unknown")
  }
}
