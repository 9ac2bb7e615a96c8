package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** Drill's persistent alias registry (1.21): `CREATE [PUBLIC] ALIAS a
  * FOR TABLE t` / `FOR STORAGE s` — ref exec/.../alias/
  * PersistentAliasRegistry.java, planner/sql/handlers/
  * CreateAliasHandler.java, DropAliasHandler.java,
  * DropAllAliasesHandler.java. TABLE aliases map a name to a full table
  * identifier (catalog table or a `dfs`-path relation); STORAGE aliases
  * map a schema head (so `warehouse`.`/x` reads as `dfs`.`/x`).
  * Resolution happens during the parser-wrapper rewrite
  * ([[DfsParser]]), the same stage Drill resolves aliases in its
  * DynamicRootSchema — and only for names the session catalog does not
  * own, so real tables always win.
  *
  * Drill scopes aliases per-user plus a shared PUBLIC set; a
  * single-session Spark app has one user, so the flag is recorded and
  * listed (sys.table_aliases / sys.storage_aliases carry it, ref
  * store/sys/AliasesIterator.java) and DROP honors it, but both scopes
  * resolve. One JSON file, written atomically (temp + rename). */
object AliasRegistry {

  case class Alias(alias: String, name: String, user: String,
                   isPublic: Boolean)

  private val FileName = "aliases.json"
  private val mapper = new ObjectMapper()

  def base(spark: SparkSession): String =
    spark.conf.getOption("graft.alias.dir").getOrElse(
      spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
        "/_graft_aliases")

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // alias lookup runs on every relation in every parsed query, so the
  // parse path must not re-read JSON each time: cache keyed by the
  // file's (path, mtime) — one cheap stat per lookup, re-read on change
  @volatile private var cache: (String, Long, (Seq[Alias], Seq[Alias])) = _

  /** (table aliases, storage aliases) currently stored. */
  def load(spark: SparkSession): (Seq[Alias], Seq[Alias]) = {
    val dir = base(spark)
    val f = fs(spark, dir)
    val p = new Path(dir, FileName)
    if (!f.exists(p)) (Nil, Nil)
    else {
      val mtime = f.getFileStatus(p).getModificationTime
      val c = cache
      if (c != null && c._1 == p.toString && c._2 == mtime) c._3
      else {
        val in = f.open(p)
        val root = try mapper.readTree(in) finally in.close()
        def section(key: String): Seq[Alias] =
          Option(root.get(key)).map(_.elements.asScala.map { n =>
            Alias(n.get("alias").asText, n.get("name").asText,
              n.get("user").asText, n.get("isPublic").asBoolean)
          }.toSeq).getOrElse(Nil)
        val data = (section("table"), section("storage"))
        cache = (p.toString, mtime, data)
        data
      }
    }
  }

  private def save(spark: SparkSession, table: Seq[Alias],
                   storage: Seq[Alias]): Unit = {
    val dir = base(spark)
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir))
    val root = mapper.createObjectNode()
    for ((key, list) <- Seq("table" -> table, "storage" -> storage)) {
      val arr = root.putArray(key)
      list.foreach { a =>
        val n = arr.addObject()
        n.put("alias", a.alias); n.put("name", a.name)
        n.put("user", a.user); n.put("isPublic", a.isPublic)
      }
    }
    val target = new Path(dir, FileName)
    StagedFiles.replace(f, target, mapper.writeValueAsBytes(root))
    // refresh the cache with the data in hand: mtime granularity (ms,
    // or 1s on some filesystems) can miss a same-tick write, and a
    // just-created alias must resolve in the very next query
    cache = (target.toString, f.getFileStatus(target).getModificationTime,
      (table, storage))
  }

  private def user(spark: SparkSession): String =
    spark.sparkContext.sparkUser

  /** CREATE [OR REPLACE] [PUBLIC] ALIAS — false if it exists and
    * !replace (Drill raises; the SQL layer turns false into the error). */
  def create(spark: SparkSession, alias: String, target: String,
             storage: Boolean, isPublic: Boolean,
             replace: Boolean): Boolean = {
    val (t, s) = load(spark)
    val cur = if (storage) s else t
    // one collation everywhere: resolution matches case-insensitively
    // (Drill identifiers), so create/drop must too — else FOO and foo
    // coexist and drops miss
    if (cur.exists(_.alias.equalsIgnoreCase(alias)) && !replace) false
    else {
      val next = cur.filterNot(_.alias.equalsIgnoreCase(alias)) :+
        Alias(alias, target, user(spark), isPublic)
      if (storage) save(spark, t, next) else save(spark, next, s)
      true
    }
  }

  /** DROP [PUBLIC] ALIAS — false if no matching alias (scope must
    * match, like Drill's per-registry drop). */
  def drop(spark: SparkSession, alias: String, storage: Boolean,
           isPublic: Boolean): Boolean = {
    val (t, s) = load(spark)
    val cur = if (storage) s else t
    val hit = cur.exists(a =>
      a.alias.equalsIgnoreCase(alias) && a.isPublic == isPublic)
    if (hit) {
      val next = cur.filterNot(a =>
        a.alias.equalsIgnoreCase(alias) && a.isPublic == isPublic)
      if (storage) save(spark, t, next) else save(spark, next, s)
    }
    hit
  }

  /** DROP ALL [PUBLIC] ALIASES [FOR TABLE|STORAGE]; returns count. */
  def dropAll(spark: SparkSession, storage: Option[Boolean],
              isPublic: Boolean): Int = {
    val (t, s) = load(spark)
    def keep(list: Seq[Alias], applies: Boolean): (Seq[Alias], Int) =
      if (!applies) (list, 0)
      else (list.filterNot(_.isPublic == isPublic),
        list.count(_.isPublic == isPublic))
    val (t2, nt) = keep(t, storage.forall(!_))
    val (s2, ns) = keep(s, storage.forall(identity))
    save(spark, t2, s2)
    nt + ns
  }

  def tableAlias(spark: SparkSession, alias: String): Option[String] =
    load(spark)._1.find(_.alias.equalsIgnoreCase(alias)).map(_.name)

  def storageAlias(spark: SparkSession, alias: String): Option[String] =
    load(spark)._2.find(_.alias.equalsIgnoreCase(alias)).map(_.name)

  /** sys.table_aliases / sys.storage_aliases relations (ref
    * store/sys/AliasesIterator.java: alias, name, user, isPublic). */
  def sysTable(spark: SparkSession, storage: Boolean): DataFrame = {
    import spark.implicits._
    val list = if (storage) load(spark)._2 else load(spark)._1
    list.map(a => (a.alias, a.name, a.user, a.isPublic))
      .toDF("alias", "name", "user", "is_public")
  }
}
