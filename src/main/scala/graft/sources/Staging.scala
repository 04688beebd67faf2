package graft.sources

import org.apache.spark.sql.SparkSession

/** Fixture staging for the declared queries: layouts, indexes and scratch
  * catalogs a query reads but does not itself measure. */
private[graft] object Staging {

  /** Where one staged fixture lives: its catalog name (unique per kind,
    * sf directory and content token) and its scratch root. */
  final class Fixture private[Staging] (val cat: String, prefix: String) {
    lazy val root: String = graft.Scratch.dir(prefix)
  }

  private final class Entry(val token: String, val fixture: Fixture,
      build: => Any) {
    lazy val value: Any = build
  }

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Entry]()

  /** The staging contract. A fixture of `kind` over sf directory `d` is
    * built ONCE per (kind, d, content token of d) and shared by every
    * invocation and every session of the JVM: building one (commits per
    * group, index builds, decoy appends) is fixture cost no production
    * query pays, and re-staging it per invocation made the staged queries
    * measure their own setup. The token ([[graft.Tables.contentToken]],
    * a driver-side listing, no Spark job) makes an in-place rewrite of
    * the testdata re-stage, replacing the superseded entry.
    *
    * A catalog-backed fixture (`catalog = true`) lives under its own
    * catalog, named from (kind, d, token) — a re-stage gets a NEW name,
    * because a session caches a catalog instance by name and would keep
    * serving the old root — with namespace `q` created at staging. The
    * catalog is registered on EVERY calling session that lacks it (the
    * runtime confs of `spark.newSession()` start empty), so a fixture
    * staged by one session serves any other. The memo is deliberately not
    * keyed by session: that would rebuild every index once per session. */
  def staged[T](kind: String, s: SparkSession, d: String,
      catalog: Boolean = true)(build: Fixture => T): T = {
    val token = graft.Tables.contentToken(d).getOrElse("")
    val e = memo.compute((kind, d), (_, old) =>
      if (old != null && old.token == token) old
      else {
        val f = new Fixture(s"graftstg$kind${tag(s"$d|$token")}",
          s"graft_stage_${kind}_")
        new Entry(token, f, {
          if (catalog) {
            register(s, f.cat, f.root)
            s.sql(s"CREATE NAMESPACE IF NOT EXISTS ${f.cat}.q")
          }
          build(f)
        })
      })
    val v =
      try e.value.asInstanceOf[T]
      catch { case t: Throwable => memo.remove((kind, d), e); throw t }
    if (catalog) register(s, e.fixture.cat, e.fixture.root)
    v
  }

  /** A query's own scratch catalog `name` on `s`, with namespace `q` and
    * without the `tables` an earlier invocation left. The first root a
    * session registers under a name is the one its cached catalog
    * instance keeps, so this returns THAT root, and makes a fresh scratch
    * dir only when the session has none. */
  def catalog(s: SparkSession, name: String, tables: String*): String = {
    val root = register(s, name, graft.Scratch.dir(s"graft_${name}_"))
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.q")
    tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS $name.q.$t"))
    root
  }

  /** Registers catalog `name` at `root` on `s` unless `s` already has a
    * root for it; returns the root `s` uses. */
  private def register(s: SparkSession, name: String, root: => String): String = {
    val key = s"spark.sql.catalog.$name"
    s.conf.getOption(s"$key.root").getOrElse {
      val r = root
      s.conf.set(key, "graft.sources.GraftCatalog")
      s.conf.set(s"$key.root", r)
      r
    }
  }

  private def tag(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
}
