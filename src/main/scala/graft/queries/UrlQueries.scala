package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Url
import org.apache.spark.sql.functions._

/** URL canonicalization surface (X70 — [[graft.functions.Url]]): the
  * pass every crawl pipeline runs before URL-level dedup, plus the
  * URL-derived domain link graph that makes the per-domain ranking
  * operators (X66 PageRank) first-class over realistic input instead
  * of modular arithmetic.
  *
  * Oracle discipline: Url's scaladoc defines the canonicalization as a
  * replayable transform chain (regex component extraction, list
  * filter/sort/rejoin) — the oracles below replay that chain step for
  * step in DuckDB SQL ([[urlChainSql]]), so a green row checks the
  * DEFINITION, not a library. Fixtures are deterministic messy-URL
  * templates carved from `documents.doc_id` (the same planted-fixture
  * device as the WARC and multimodal queries), covering: scheme/host
  * case, `:80`/`:443` vs non-default ports, `www.`, duplicate slashes,
  * trailing slash, `utm_*` params, param order, fragments, host-only
  * URLs, queries that empty after filtering, multi-part public
  * suffixes and deep subdomains.
  */
object UrlQueries {

  import graft.functions.PublicSuffix

  /** DuckDB: last k labels of the host re-joined. */
  private def sqlLastK(k: Int): String =
    (k to 1 by -1).map(i => s"labels[-$i]").mkString(" || '.' || ")

  /** DuckDB: a k-label public suffix plus one label, degrading to the
    * bare host when nothing precedes the suffix. */
  private def sqlPlusOne(k: Int): String =
    s"CASE WHEN len(labels) >= ${k + 1} THEN ${sqlLastK(k + 1)} " +
      "ELSE bare END"

  /** The registrable-domain CASE chain, GENERATED from the same
    * [[PublicSuffix]] snapshot Url.registrableDomain compiles — one
    * arm per (rule kind, label count) in the identical precedence
    * order (exceptions longest-first, then longest rule, plain before
    * wildcard within a count, default `*` rule), so the two engines
    * cannot drift. */
  private def sqlDomain: String = {
    def inList(s: Set[String]) =
      s.toSeq.sorted.map(x => s"'$x'").mkString(", ")
    val ks = PublicSuffix.MaxK to 1 by -1
    val excArms = ks.flatMap { k =>
      PublicSuffix.ExceptionsByK.get(k).map { rules =>
        s"WHEN len(labels) >= $k AND ${sqlLastK(k)} IN " +
          s"(${inList(rules)}) THEN ${sqlLastK(k)}"
      }
    }
    val ruleArms = ks.flatMap { k =>
      val plain = PublicSuffix.PlainByK.get(k).map { rules =>
        s"WHEN len(labels) >= $k AND ${sqlLastK(k)} IN " +
          s"(${inList(rules)}) THEN ${sqlPlusOne(k)}"
      }
      val wild = PublicSuffix.WildcardTailsByK.get(k).map { tails =>
        s"WHEN len(labels) >= $k AND ${sqlLastK(k - 1)} IN " +
          s"(${inList(tails)}) THEN ${sqlPlusOne(k)}"
      }
      plain.toSeq ++ wild.toSeq
    }
    s"""CASE ${(excArms ++ ruleArms).mkString("\n                     ")}
                     WHEN len(labels) >= 2 THEN ${sqlLastK(2)}
                     ELSE bare END"""
  }

  /** CTE chain replaying [[Url.canonicalize]] + [[Url.registrableDomain]]
    * over a CTE `src`(keyCols…, url) → terminal CTE `urlc`(keyCols…,
    * url, canonical, domain). Mirrors Url.scala expression for
    * expression; `'g'` flags mark the one pattern that can match more
    * than once (Spark regexp_replace is always global). */
  private def urlChainSql(src: String, keyCols: String): String =
    s"""u_p AS (
              SELECT $keyCols, url,
                     lower(regexp_extract(url,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                     lower(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
                     regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                       AS rawpath,
                     regexp_extract(url, '\\?([^#]*)', 1) AS rawq
              FROM $src),
            u_h AS (
              SELECT *, regexp_replace(
                  CASE WHEN scheme = 'http'
                         THEN regexp_replace(hostport, ':80$$', '')
                       WHEN scheme = 'https'
                         THEN regexp_replace(hostport, ':443$$', '')
                       ELSE hostport END, '^www\\.', '') AS host
              FROM u_p),
            u_c AS (
              SELECT *,
                     regexp_replace(regexp_replace(rawpath, '/{2,}', '/', 'g'),
                       '/$$', '') AS path,
                     array_to_string(list_sort(list_filter(
                       string_split(rawq, '&'),
                       x -> len(x) > 0 AND NOT starts_with(x, 'utm_'))), '&')
                       AS q
              FROM u_h),
            u_d AS (
              SELECT *, regexp_replace(host, ':[0-9]+$$', '') AS bare,
                     string_split(regexp_replace(host, ':[0-9]+$$', ''), '.')
                       AS labels
              FROM u_c),
            urlc AS MATERIALIZED (
              -- q_url_domain_graph self-joins urlc; inlined, each
              -- side re-runs the whole regex canonicalization chain
              SELECT $keyCols, url,
                     scheme || '://' || host || path ||
                       CASE WHEN len(q) > 0 THEN '?' || q ELSE '' END
                       AS canonical,
                     $sqlDomain AS domain
              FROM u_d)"""

  // ------------------------------------------- X70 per-URL canonical form

  /** 12 messy-URL templates (see object scaladoc for the coverage
    * matrix); `r` varies the path so canonical URLs aren't constant
    * per template. */
  private val canonFixtureSql: String =
    """SELECT doc_id,
              CASE doc_id % 16
                WHEN 0 THEN 'HTTP://WWW.Example.COM:80//a//'
                  || CAST(doc_id % 10 AS VARCHAR)
                  || '/?utm_source=x&b=2&a=1#frag'
                WHEN 1 THEN 'https://shop.example.co.uk:443/p/'
                  || CAST(doc_id % 10 AS VARCHAR) || '/'
                WHEN 2 THEN 'http://example.com/a/'
                  || CAST(doc_id % 10 AS VARCHAR)
                WHEN 3 THEN 'https://Sub.Domain.ORG/path//to///'
                  || CAST(doc_id % 10 AS VARCHAR) || '?z=9&y=8&utm_campaign=c'
                WHEN 4 THEN 'http://www.news.co.jp'
                WHEN 5 THEN 'http://example.com:8080/x/'
                  || CAST(doc_id % 10 AS VARCHAR) || '?a=1'
                WHEN 6 THEN 'https://a.b.c.example.com/deep/'
                  || CAST(doc_id % 10 AS VARCHAR) || '/'
                WHEN 7 THEN 'http://example.org/?utm_source=only'
                WHEN 8 THEN 'HTTPS://WWW.EXAMPLE.COM/UPPER/Path/'
                  || CAST(doc_id % 10 AS VARCHAR)
                WHEN 9 THEN 'http://site.ac.uk//x?b=1&a=2#f'
                WHEN 10 THEN 'https://example.com.au/page?x=1&utm_medium=m&w=0'
                WHEN 11 THEN 'http://foo.bar.ck/page/'
                  || CAST(doc_id % 10 AS VARCHAR)
                WHEN 12 THEN 'http://shop.www.ck/x/'
                  || CAST(doc_id % 10 AS VARCHAR)
                WHEN 13 THEN 'https://WWW.City.Kawasaki.JP/ward/'
                  || CAST(doc_id % 10 AS VARCHAR)
                WHEN 14 THEN 'http://blog.north.kawasaki.jp/p/'
                  || CAST(doc_id % 10 AS VARCHAR) || '/'
                ELSE 'http://localhost/x' END AS url
       FROM documents"""

  private def canonFixture(docId: org.apache.spark.sql.Column) = {
    val m = docId % 16
    val r = (docId % 10).cast("string")
    when(m === 0, concat(lit("HTTP://WWW.Example.COM:80//a//"), r,
        lit("/?utm_source=x&b=2&a=1#frag")))
      .when(m === 1, concat(lit("https://shop.example.co.uk:443/p/"), r,
        lit("/")))
      .when(m === 2, concat(lit("http://example.com/a/"), r))
      .when(m === 3, concat(lit("https://Sub.Domain.ORG/path//to///"), r,
        lit("?z=9&y=8&utm_campaign=c")))
      .when(m === 4, lit("http://www.news.co.jp"))
      .when(m === 5, concat(lit("http://example.com:8080/x/"), r,
        lit("?a=1")))
      .when(m === 6, concat(lit("https://a.b.c.example.com/deep/"), r,
        lit("/")))
      .when(m === 7, lit("http://example.org/?utm_source=only"))
      .when(m === 8, concat(lit("HTTPS://WWW.EXAMPLE.COM/UPPER/Path/"), r))
      .when(m === 9, lit("http://site.ac.uk//x?b=1&a=2#f"))
      .when(m === 10, lit("https://example.com.au/page?x=1&utm_medium=m&w=0"))
      // PSL wildcard rule *.ck: bar.ck is the suffix → foo.bar.ck
      .when(m === 11, concat(lit("http://foo.bar.ck/page/"), r))
      // PSL exception rule !www.ck: www.ck is registrable
      .when(m === 12, concat(lit("http://shop.www.ck/x/"), r))
      // exception !city.kawasaki.jp under wildcard *.kawasaki.jp
      .when(m === 13, concat(lit("https://WWW.City.Kawasaki.JP/ward/"), r))
      // wildcard *.kawasaki.jp: north.kawasaki.jp is the suffix
      .when(m === 14, concat(lit("http://blog.north.kawasaki.jp/p/"), r,
        lit("/")))
      .otherwise(lit("http://localhost/x"))
  }

  /** Per-URL canonical form + registrable domain — pure expression
    * chain, shuffle-free scan, zero UDFs. */
  val urlCanonicalize = QueryDef(
    "q_url_canonicalize",
    Some(s"""WITH u AS ($canonFixtureSql),
            ${urlChainSql("u", "doc_id")}
            SELECT doc_id, url, canonical, domain
            FROM urlc ORDER BY doc_id"""),
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), canonFixture(col("doc_id")).as("url"))
      .select(col("doc_id"), col("url"),
        Url.canonicalize(col("url")).as("canonical"),
        Url.registrableDomain(col("url")).as("domain"))
      .orderBy("doc_id"))

  // ----------------------------------------------- X70 URL-level dedup

  /** 4 messy variants of the same logical resource — all canonicalize
    * to `http://<base>/item/<r>`; 3 base hosts exercise the suffix
    * logic inside the dedup keys themselves. */
  private val dedupFixtureSql: String =
    """SELECT doc_id,
              CASE (doc_id // 10) % 4
                WHEN 0 THEN 'http://' || CASE (doc_id % 10) % 3
                    WHEN 0 THEN 'example.com' WHEN 1 THEN 'blog.site.co.uk'
                    ELSE 'data.example.org' END
                  || '/item/' || CAST(doc_id % 10 AS VARCHAR)
                WHEN 1 THEN 'HTTP://WWW.' || CASE (doc_id % 10) % 3
                    WHEN 0 THEN 'example.com' WHEN 1 THEN 'blog.site.co.uk'
                    ELSE 'data.example.org' END
                  || ':80//item//' || CAST(doc_id % 10 AS VARCHAR) || '/'
                WHEN 2 THEN 'http://' || CASE (doc_id % 10) % 3
                    WHEN 0 THEN 'example.com' WHEN 1 THEN 'blog.site.co.uk'
                    ELSE 'data.example.org' END
                  || '/item/' || CAST(doc_id % 10 AS VARCHAR)
                  || '?utm_source=feed#top'
                ELSE 'http://www.' || CASE (doc_id % 10) % 3
                    WHEN 0 THEN 'example.com' WHEN 1 THEN 'blog.site.co.uk'
                    ELSE 'data.example.org' END
                  || '/item/' || CAST(doc_id % 10 AS VARCHAR) || '#section'
                END AS url
       FROM documents"""

  private def dedupFixture(docId: org.apache.spark.sql.Column) = {
    val r = docId % 10
    val rs = r.cast("string")
    val base = when(r % 3 === 0, lit("example.com"))
      .when(r % 3 === 1, lit("blog.site.co.uk"))
      .otherwise(lit("data.example.org"))
    val v = (docId.cast("long") / 10).cast("long") % 4
    when(v === 0, concat(lit("http://"), base, lit("/item/"), rs))
      .when(v === 1, concat(lit("HTTP://WWW."), base, lit(":80//item//"),
        rs, lit("/")))
      .when(v === 2, concat(lit("http://"), base, lit("/item/"), rs,
        lit("?utm_source=feed#top")))
      .otherwise(concat(lit("http://www."), base, lit("/item/"), rs,
        lit("#section")))
  }

  /** URL-level dedup: group by CANONICAL url — the crawl pass the
    * canonicalization chain exists for. Only the canonical strings
    * (bounded-width keys) shuffle, never document payloads; the
    * representative is the min doc_id (deterministic keep rule, same
    * as X1). */
  val urlDedup = QueryDef(
    "q_url_dedup",
    Some(s"""WITH u AS ($dedupFixtureSql),
            ${urlChainSql("u", "doc_id")}
            SELECT canonical, domain,
                   CAST(COUNT(*) AS BIGINT) AS n_raw,
                   CAST(COUNT(DISTINCT url) AS BIGINT) AS n_urls,
                   MIN(doc_id) AS first_doc
            FROM urlc GROUP BY canonical, domain ORDER BY canonical"""),
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), dedupFixture(col("doc_id")).as("url"))
      .select(col("doc_id"), col("url"),
        Url.canonicalize(col("url")).as("canonical"),
        Url.registrableDomain(col("url")).as("domain"))
      .groupBy("canonical", "domain")
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("url")).as("n_urls"),
        min("doc_id").as("first_doc"))
      .orderBy("canonical"))

  // ------------------------------- X70→X66: URL-derived domain PageRank

  /** 8 hosts → 7 registrable domains (two hosts share example.com —
    * exactly the merge registrable-domain grouping exists for; one
    * host sits under the `*.ck` wildcard suffix and one resolves
    * through the `!city.kawasaki.jp` exception rule, so the graph
    * nodes exercise the full PSL rule grammar). */
  private def hostSql(idx: String): String =
    s"""CASE $idx WHEN 0 THEN 'example.com' WHEN 1 THEN 'site.co.uk'
            WHEN 2 THEN 'news.co.jp' WHEN 3 THEN 'ferry.lagoon.ck'
            WHEN 4 THEN 'shop.example.com.au' WHEN 5 THEN 'stats.data.ac.uk'
            WHEN 6 THEN 'a.b.example.com' ELSE 'www.city.kawasaki.jp' END"""

  private def hostCol(idx: org.apache.spark.sql.Column) =
    when(idx === 0, lit("example.com"))
      .when(idx === 1, lit("site.co.uk"))
      .when(idx === 2, lit("news.co.jp"))
      .when(idx === 3, lit("ferry.lagoon.ck"))
      .when(idx === 4, lit("shop.example.com.au"))
      .when(idx === 5, lit("stats.data.ac.uk"))
      .when(idx === 6, lit("a.b.example.com"))
      .otherwise(lit("www.city.kawasaki.jp"))

  /** PageRank over the URL-DERIVED domain multigraph: edges come from
    * `registrableDomain` applied to planted messy (src_url, dst_url)
    * pairs — the realistic input path for X66 (the r8 verdict's gap:
    * the ranking operators presupposed a modular-arithmetic graph).
    * Same power-iteration engine, round discipline and unrolled-CTE
    * oracle as q_domain_pagerank; node ids are domain STRINGS, which
    * the rank/degree shuffles key directly (bounded-width keys — the
    * corpus never shuffles). `doc_id*3+1 ≡ doc_id (mod 8)` has no
    * solution, so the multigraph has no self-loops by construction. */
  val urlDomainGraph = QueryDef(
    "q_url_domain_graph",
    Some(s"""WITH links AS (
              SELECT doc_id,
                     'HTTP://WWW.' || ${hostSql("doc_id % 8")}
                       || ':80/page/' || CAST(doc_id % 5 AS VARCHAR)
                       || '?utm_source=x' AS src_url,
                     'https://' || ${hostSql("(doc_id * 3 + 1) % 8")}
                       || '/item/' || CAST(doc_id % 3 AS VARCHAR) || '/'
                       AS dst_url
              FROM documents),
            sides AS (
              SELECT doc_id, 's' AS side, src_url AS url FROM links
              UNION ALL
              SELECT doc_id, 'd' AS side, dst_url AS url FROM links),
            ${urlChainSql("sides", "doc_id, side")},
            e0 AS MATERIALIZED (
              SELECT s.domain AS src, d.domain AS dst
              FROM urlc s JOIN urlc d ON s.doc_id = d.doc_id
              WHERE s.side = 's' AND d.side = 'd'),
            ${CurationQueries.pagerankSql}"""),
    (s, d) => {
      val docId = col("doc_id")
      val links = Tables.documents(s, d).select(
        concat(lit("HTTP://WWW."), hostCol(docId % 8), lit(":80/page/"),
          (docId % 5).cast("string"), lit("?utm_source=x")).as("src_url"),
        concat(lit("https://"), hostCol((docId * 3 + 1) % 8), lit("/item/"),
          (docId % 3).cast("string"), lit("/")).as("dst_url"))
      // materialize the derived edge list ONCE: PageRank's plan build
      // consumes it three ways (nodes, degrees, degreed edges) and each
      // would otherwise re-run the full regex canonicalization scan —
      // at production scale you materialize a derived graph regardless
      val edges = links.select(
        Url.registrableDomain(col("src_url")).as("src"),
        Url.registrableDomain(col("dst_url")).as("dst"))
        .localCheckpoint(true)
      CurationQueries.pagerank(edges)
    })

  val all: Seq[QueryDef] = Seq(urlCanonicalize, urlDedup, urlDomainGraph)
}
