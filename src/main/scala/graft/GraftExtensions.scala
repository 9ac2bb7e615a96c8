package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.IntegerType
import graft.functions.{CosineSimilarity, JaccardSimExpr, Md5Hash32Expr, MinhashSignatureExpr, PhoneticExpr, Phonetics, SimhashAgg, SimhashText64Expr, SimhashTextExpr, StringEntropyExpr, WordNgramsExpr}

/** Session extensions: registers graft's native Catalyst expressions into
  * the function registry, so they resolve from SQL (`cosine_sim(a, b)`)
  * and from `call_function` — the SparkSessionExtensions path an external
  * deployment enables with `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // `SELECT * FROM dfs.`/path/file.parquet`` — Drill's dfs namespace as
    // an analyzer rule (see sources/DfsResolveRule), plus a parser wrapper
    // for the 3-part workspace form `dfs.tmp.`rel/path`` (which Spark
    // would otherwise resolve eagerly against the session catalog).
    ext.injectResolutionRule(session => graft.sources.DfsResolveRule(session))
    // `SELECT * FROM sys.version` / `information_schema.\`tables\`` —
    // Drill's system-table and ischema plugins as SQL namespaces (the
    // names BI tools introspect through the JDBC front door)
    ext.injectResolutionRule(session => graft.sources.SysResolveRule(session))
    // per-user VIEW allow-lists for the authenticated front doors
    // (Drill's inbound-impersonation/authorization surface; see
    // sources/AccessControl) — no-op without a request principal
    ext.injectResolutionRule(session => graft.sources.AccessControlRule(session))
    // (`hive.db.tbl` metastore federation resolves in DfsParser — the
    // "hive" head must be claimed BEFORE ResolveSQLOnFile sees it)
    ext.injectParser((_, parser) => new graft.sources.DfsParser(parser))
    // `SELECT * FROM dfs_read('/path', 'text', '|')` — Drill's
    // table-function form with explicit format options (table(dfs.`x`
    // (type => 'text', fieldDelimiter => '|'))), as a Spark table
    // function returning the reader's analyzed plan.
    ext.injectTableFunction((
      new FunctionIdentifier("dfs_read"),
      new ExpressionInfo("graft.sources.DfsSql$", "dfs_read"),
      (children: Seq[Expression]) => {
        def str(e: Expression, what: String): String = e match {
          case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
            s.toString
          case other => throw new IllegalArgumentException(
            s"dfs_read: $what must be a string literal, got $other")
        }
        require(children.nonEmpty && children.length <= 3,
          s"dfs_read expects (path[, format[, delimiter]]), got ${children.length} args")
        val spark = org.apache.spark.sql.SparkSession.active
        val path = str(children.head, "path")
        val df =
          if (children.length == 1) graft.sources.DfsSql.read(spark, path)
          else graft.sources.DfsSql.readAs(spark, path,
            str(children(1), "format"),
            if (children.length == 3) str(children(2), "delimiter") else ",")
        df.queryExecution.analyzed
      }))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"cosine_sim expects exactly 2 arguments, got ${children.length}")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("md5_hash32"),
      new ExpressionInfo(classOf[Md5Hash32Expr].getName, "md5_hash32"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"md5_hash32 expects exactly 1 argument, got ${children.length}")
        Md5Hash32Expr(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSignatureExpr].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"minhash_sig expects exactly 2 arguments, got ${children.length}")
        MinhashSignatureExpr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgramsExpr].getName, "word_ngrams"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"word_ngrams expects exactly 2 arguments, got ${children.length}")
        WordNgramsExpr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("jaccard_sim"),
      new ExpressionInfo(classOf[JaccardSimExpr].getName, "jaccard_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"jaccard_sim expects exactly 2 arguments, got ${children.length}")
        JaccardSimExpr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[SimhashAgg].getName, "simhash_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"simhash_agg expects exactly 2 arguments, got ${children.length}")
        val bits = children(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"simhash_agg bits must be an int literal, got $other")
        }
        SimhashAgg(children.head, bits)
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash_text"),
      new ExpressionInfo(classOf[SimhashTextExpr].getName, "simhash_text"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"simhash_text expects 2 arguments (text, bits), got ${children.length}")
        SimhashTextExpr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash_text64"),
      new ExpressionInfo(classOf[SimhashText64Expr].getName, "simhash_text64"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"simhash_text64 expects 1 argument (text), got ${children.length}")
        SimhashText64Expr(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("entropy"),
      new ExpressionInfo(classOf[StringEntropyExpr].getName, "entropy"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"entropy expects 1 argument (string), got ${children.length}")
        StringEntropyExpr(children.head)
      }))
    // the phonetic family: each algorithm by its Drill name
    // (metaphone(s), nysiis(s), ...)
    Phonetics.AlgoIds.keys.foreach { algo =>
      ext.injectFunction((
        new FunctionIdentifier(algo),
        new ExpressionInfo(classOf[PhoneticExpr].getName, algo),
        (children: Seq[Expression]) => {
          require(children.length == 1,
            s"$algo expects exactly 1 argument, got ${children.length}")
          PhoneticExpr(children.head, algo)
        }))
    }
    // typed binary codecs: convert_from(b, 'TYPE') / convert_to(v, 'TYPE')
    // (ref exec/.../expr/fn/impl/conv/ — Drill resolves the literal to
    // its convert_fromTYPE function at plan time; same here). 'JSON'
    // routes to Spark's JSON machinery: schema-on-read map<string,string>
    // out, to_json back in.
    def convEnc(e: Expression, fn: String): String = e match {
      case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
        s.toString.toUpperCase(java.util.Locale.ROOT)
      case other => throw new IllegalArgumentException(
        s"$fn: the encoding must be a string literal, got $other")
    }
    ext.injectFunction((
      new FunctionIdentifier("convert_from"),
      new ExpressionInfo(classOf[graft.functions.ConvertFromExpr].getName,
        "convert_from"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"convert_from expects (bytes, 'TYPE'), got ${children.length} args")
        convEnc(children(1), "convert_from") match {
          case "JSON" => org.apache.spark.sql.catalyst.expressions.JsonToStructs(
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.StringType),
            Map.empty[String, String],
            // JsonToStructs requires STRING input; the documented family
            // shape is convert_from(VARBINARY,'JSON'), so UTF-8-decode
            // binary via Cast (a no-op for string input) — mirrors the
            // convert_to JSON route's Cast-to-binary
            org.apache.spark.sql.catalyst.expressions.Cast(
              children.head, org.apache.spark.sql.types.StringType))
          // NO blanket cast-to-binary here: Spark would happily cast an
          // INT to its big-endian bytes and the LE codecs would then
          // return a silently byte-swapped value. Binary in, or refuse
          // (wrap strings with unhex()/encode() explicitly).
          case enc => graft.functions.ConvertFromExpr(children.head, enc)
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("convert_to"),
      new ExpressionInfo(classOf[graft.functions.ConvertToExpr].getName,
        "convert_to"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"convert_to expects (value, 'TYPE'), got ${children.length} args")
        convEnc(children(1), "convert_to") match {
          case "JSON" | "EXTENDEDJSON" =>
            org.apache.spark.sql.catalyst.expressions.Cast(
              org.apache.spark.sql.catalyst.expressions.StructsToJson(
                Map.empty[String, String], children.head),
              org.apache.spark.sql.types.BinaryType)
          case enc => graft.functions.ConvertToExpr(
            graft.functions.ConvertBinary.ToTypes.get(enc) match {
              // implicit input cast (int literal -> BIGINT etc.), the
              // reference's argument-coercion posture
              case Some(t) => org.apache.spark.sql.catalyst.expressions.Cast(
                children.head, t)
              case None => children.head // unknown enc: let the check fail
            }, enc)
        }
      }))
    // planar GIS predicates (contrib/udfs gis/STCrosses.java,
    // STTouches.java, STOverlaps.java, STEquals.java, STDisjoint.java,
    // STIntersects.java — DE-9IM over the (gtype, xs, ys) core)
    graft.functions.GisPredicates.OpIds.keys.foreach { op =>
      ext.injectFunction((
        new FunctionIdentifier(op),
        new ExpressionInfo(classOf[graft.functions.GisPredicateExpr].getName, op),
        (children: Seq[Expression]) => {
          require(children.length == 2,
            s"$op expects exactly 2 arguments, got ${children.length}")
          graft.functions.GisPredicateExpr(children.head, children(1), op)
        }))
    }
    // constructive geometry, CONVEX slice (contrib/udfs gis/
    // STUnion.java, STDifference.java; the Esri operator set also backs
    // intersection): Sutherland–Hodgman + a convex Weiler–Atherton walk
    graft.functions.ConvexClip.OpIds.foreach { case (name, op) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[graft.functions.ConvexClipExpr].getName, name),
        (children: Seq[Expression]) => {
          require(children.length == 2,
            s"$name expects exactly 2 arguments, got ${children.length}")
          graft.functions.ConvexClipExpr(children.head, children(1), op)
        }))
    }
    // st_buffer (contrib/udfs gis/STBuffer.java — Esri
    // GeometryEngine.buffer there): Minkowski buffering, convex slice;
    // optional third literal = segments per full circle
    ext.injectFunction((
      new FunctionIdentifier("st_buffer"),
      new ExpressionInfo(classOf[graft.functions.StBufferExpr].getName,
        "st_buffer"),
      (children: Seq[Expression]) => {
        require(children.length == 2 || children.length == 3,
          s"st_buffer expects (geom, distance[, segments]), got " +
            s"${children.length} args")
        val segs = children.lift(2).map {
          case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"st_buffer: segments must be an integer literal, got $other")
        }.getOrElse(graft.functions.StBuffer.DefaultSegments)
        graft.functions.StBufferExpr(children.head,
          org.apache.spark.sql.catalyst.expressions.Cast(
            children(1), org.apache.spark.sql.types.DoubleType),
          segs)
      }))
    // MULTIPOLYGON WKT parse node (see WktMultiParse: the compact
    // fallback that keeps stGeomFromText's simple-geometry path in
    // whole-stage codegen)
    ext.injectFunction((
      new FunctionIdentifier("wkt_multi_parse"),
      new ExpressionInfo(classOf[graft.functions.WktMultiParseExpr].getName,
        "wkt_multi_parse"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"wkt_multi_parse expects 1 argument, got ${children.length}")
        graft.functions.WktMultiParseExpr(children.head)
      }))
    // st_union_multi (contrib/udfs gis/STUnionAggregate.java — Esri
    // cursor union there): the pairwise-DISJOINT slice; spell the
    // aggregate as st_union_multi(collect_list(geom))
    ext.injectFunction((
      new FunctionIdentifier("st_union_multi"),
      new ExpressionInfo(classOf[graft.functions.StUnionMultiExpr].getName,
        "st_union_multi"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"st_union_multi expects 1 argument (array<geometry>), got " +
            s"${children.length}")
        graft.functions.StUnionMultiExpr(children.head)
      }))
    // st_transform (contrib/udfs gis/STTransform.java — proj4 there):
    // narrowed to 4326 <-> 3857 and 4326 <-> UTM; srids must be
    // integer literals so unsupported pairs refuse at plan time
    ext.injectFunction((
      new FunctionIdentifier("st_transform"),
      new ExpressionInfo(classOf[graft.functions.StTransformExpr].getName,
        "st_transform"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          s"st_transform expects (geom, fromSrid, toSrid), got " +
            s"${children.length} args")
        def intLit(e: Expression, what: String): Int = e match {
          case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"st_transform: $what must be an integer literal, got $other")
        }
        graft.functions.StTransformExpr(children.head,
          intLit(children(1), "fromSrid"), intLit(children(2), "toSrid"))
      }))
    // st_relate: 2-arg = the DE-9IM matrix string, 3-arg = boolean
    // pattern match (contrib/udfs gis/STRelate.java)
    ext.injectFunction((
      new FunctionIdentifier("st_relate"),
      new ExpressionInfo(classOf[graft.functions.GisRelateExpr].getName,
        "st_relate"),
      (children: Seq[Expression]) => {
        require(children.length == 2 || children.length == 3,
          s"st_relate expects (a, b[, 'pattern']), got ${children.length} args")
        val pat = children.lift(2).map {
          case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
            s.toString
          case other => throw new IllegalArgumentException(
            s"st_relate: the pattern must be a string literal, got $other")
        }
        graft.functions.GisRelateExpr(children.head, children(1), pat)
      }))
    // get_map_schema / md2 (contrib/udfs ComplexSchemaFunctions.java,
    // CryptoFunctions.java)
    Seq("get_map_schema", "getmapschema").foreach { nm =>
      ext.injectFunction((
        new FunctionIdentifier(nm),
        new ExpressionInfo(classOf[graft.functions.GetMapSchemaExpr].getName, nm),
        (children: Seq[Expression]) => {
          require(children.length == 1,
            s"$nm expects exactly 1 argument, got ${children.length}")
          graft.functions.GetMapSchemaExpr(children.head)
        }))
    }
    ext.injectFunction((
      new FunctionIdentifier("md2"),
      new ExpressionInfo(classOf[graft.functions.Md2Expr].getName, "md2"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"md2 expects exactly 1 argument, got ${children.length}")
        graft.functions.Md2Expr(children.head)
      }))
    // the string-distance family (Drill contrib/udfs
    // StringDistanceFunctions.java names; levenshtein_distance is
    // Spark's built-in levenshtein)
    graft.functions.StringDistances.AlgoIds.keys.foreach { algo =>
      ext.injectFunction((
        new FunctionIdentifier(algo),
        new ExpressionInfo(classOf[graft.functions.StringDistanceExpr].getName, algo),
        (children: Seq[Expression]) => {
          require(children.length == 2,
            s"$algo expects exactly 2 arguments, got ${children.length}")
          graft.functions.StringDistanceExpr(children.head, children(1), algo)
        }))
    }
  }
}
