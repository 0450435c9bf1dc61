package graft.queries

/** The registry's persisted warehouse fixtures (the text, vector and
  * signature indexes): each is a set of managed tables under one prefix,
  * `tag` + the mangled SF dir, built once per JVM and then only read —
  * the reference's index-once, query-many split.
  */
private[queries] object Fixtures {

  private val built = new graft.Memo[String]

  /** Runs `build(prefix)` on the first call for this prefix in the JVM and
    * returns the prefix.
    */
  def persisted(tag: String, dir: String)(build: String => Unit): String = {
    val prefix = tag + dir.replaceAll("[^A-Za-z0-9]", "_")
    built(prefix) { build(prefix); prefix }
  }
}
