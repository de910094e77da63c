package graft

import java.nio.file.{Files, Path, Paths}

/** The Kapacitor source tree that the golden, examples and config specs
  * read: `integrations/testdata/` (the `.srpl`/`.brpl` replay fixtures and
  * `sideload/`), `examples/` (the verbatim TICKscripts) and
  * `etc/kapacitor/kapacitor.conf`. The repository does not hold the tree;
  * its root is `$KAPACITOR_REFERENCE`. Every read of it goes through here,
  * so an absent file fails its spec with one message that names the path
  * and the variable. Nothing here skips or cancels. */
object RefFixtures {
  val EnvVar = "KAPACITOR_REFERENCE"
  val root: Path = Paths.get(sys.env.getOrElse(EnvVar, "/root/reference"))

  /** Absolute path of `rel` under the tree; throws if it is absent. */
  def path(rel: String): String = {
    val p = root.resolve(rel)
    if (!Files.exists(p)) throw new IllegalStateException(
      s"reference fixture $p is missing: set $EnvVar to a Kapacitor source tree (now $root)")
    p.toString
  }

  /** A file of the integration fixtures, e.g. `TestStream_Alert.srpl`. */
  def testdata(file: String): String = path(s"integrations/testdata/$file")

  /** The UTF-8 text of `rel`. */
  def read(rel: String): String = new String(Files.readAllBytes(Paths.get(path(rel))), "UTF-8")
}
