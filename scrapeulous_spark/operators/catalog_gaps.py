"""Remaining SURVEY.md §2 operator IDs with DuckDB oracle twins.

Fills the inventory gaps left by catalog.py / catalog_serp.py /
pipeline.py: sources/sinks (§2.1), scalar functions (§2.3), predicates
(§2.4), set ops (§2.5), limits (§2.6), joins (§2.7), and the iterative
dataflow policies (§2.8) that ARE SQL-expressible as per-row/window
semantics. Engine-native counterparts (the actual superstep crawl,
binary payload codecs) live in plans/loop.py and are rows-only checked.

Same contract as catalog.py: identical aliases both sides, no raw
double aggregates, try_cast where junk rows exist (Spark 4 ANSI mode),
RE2-compatible regexes only (DuckDB). Reference citations per operator
in SURVEY.md §2 (file:line into /root/reference).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import T, register

# =====================================================================
# §2.1 sources / sinks
# =====================================================================


@register(
    "src_pagination_loop",
    """SELECT o_custkey, o_orderkey, page_num,
              'https://www.example.com/search?p=' || page_num::VARCHAR ||
              '&start=' || ((page_num - 1) * 10)::VARCHAR AS page_url
       FROM (SELECT o_custkey, o_orderkey,
                    row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey) AS page_num
             FROM orders)
       WHERE page_num <= 3""",
)
def src_pagination_loop(spark, sf):
    """Sequential next-page scan per keyword, bounded by num_pages
    (google_scraper.js:43-94, :631-636): page N+1's URL is derived
    from page N's rank — here materialized as a window, the batch
    equivalent of the click loop."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        T(spark, sf, "orders")
        .withColumn("page_num", F.row_number().over(w))
        .filter(F.col("page_num") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            "page_num",
            F.concat(
                F.lit("https://www.example.com/search?p="),
                F.col("page_num").cast("string"),
                F.lit("&start="),
                ((F.col("page_num") - 1) * 10).cast("string"),
            ).alias("page_url"),
        )
    )


@register(
    "sink_result_json",
    """SELECT o_orderkey,
              to_json(struct_pack(o_orderkey := o_orderkey,
                                  o_orderstatus := o_orderstatus,
                                  o_orderpriority := o_orderpriority))::VARCHAR AS result_json
       FROM orders""",
)
def sink_result_json(spark, sf):
    """Per-item nested-JSON result row (results.push(parsed),
    google_scraper.js:90)."""
    return T(spark, sf, "orders").select(
        "o_orderkey",
        F.to_json(
            F.struct("o_orderkey", "o_orderstatus", "o_orderpriority")
        ).alias("result_json"),
    )


@register(
    "sink_pdf",
    """SELECT doc_id, 'A4' AS pdf_format,
              base64(('%PDF-1.4' || chr(10) || substr(text, 1, 40))::BLOB) AS pdf_base64
       FROM documents""",
)
def sink_pdf(spark, sf):
    """Page -> PDF bytes as base64, options.format default 'A4'
    (custom/pdf.js:14-35); deterministic synthetic PDF envelope (kept
    under 57 raw bytes: Spark's base64 MIME-chunks at 76 encoded chars,
    DuckDB's does not)."""
    body = F.concat(F.lit("%PDF-1.4\n"), F.substring("text", 1, 40))
    return T(spark, sf, "documents").select(
        "doc_id",
        F.lit("A4").alias("pdf_format"),
        F.base64(F.encode(body, "UTF-8")).alias("pdf_base64"),
    )


# =====================================================================
# §2.3 scalar functions
# =====================================================================


@register(
    "fn_uri_encode",
    """SELECT p_partkey, raw,
              replace(replace(replace(raw, ':', '%3A'), '/', '%2F'), ' ', '%20') AS encoded
       FROM (SELECT p_partkey, 'q: ' || p_name || ' /s' AS raw FROM part)""",
)
def fn_uri_encode(spark, sf):
    """encodeURIComponent over the reserved chars present in the data
    (crawl/http.js:5, amazon.js:18). Explicit percent-encoding chain on
    both sides (Java URLEncoder would emit '+' for space, which is
    application/x-www-form-urlencoded, not encodeURI semantics)."""
    raw = F.concat(F.lit("q: "), F.col("p_name"), F.lit(" /s"))
    enc = F.replace(
        F.replace(F.replace(raw, F.lit(":"), F.lit("%3A")), F.lit("/"), F.lit("%2F")),
        F.lit(" "),
        F.lit("%20"),
    )
    return T(spark, sf, "part").select("p_partkey", raw.alias("raw"), enc.alias("encoded"))


@register(
    "fn_url_params_map",
    """SELECT c_custkey, u,
              regexp_extract(u, 'rllag=([^&]*)', 1) AS rllag,
              regexp_extract(u, 'lsig=([^&]*)', 1) AS lsig
       FROM (SELECT c_custkey,
                    'https://maps.example.com/?rllag=' || (c_custkey * 37 % 100000)::VARCHAR ||
                    '&lsig=s' || c_nationkey::VARCHAR || '&z=1' AS u
             FROM customer)""",
)
def fn_url_params_map(spark, sf):
    """URLSearchParams.get('rllag'/'lsig') (google_scraper.js:291-293,
    :337-339) — query-param lookup as a column expression."""
    u = F.concat(
        F.lit("https://maps.example.com/?rllag="),
        (F.col("c_custkey") * 37 % 100000).cast("string"),
        F.lit("&lsig=s"),
        F.col("c_nationkey").cast("string"),
        F.lit("&z=1"),
    )
    return T(spark, sf, "customer").select(
        "c_custkey",
        u.alias("u"),
        F.parse_url(u, F.lit("QUERY"), F.lit("rllag")).alias("rllag"),
        F.parse_url(u, F.lit("QUERY"), F.lit("lsig")).alias("lsig"),
    )


def _social_regex_entry(name: str, domain: str, path_chars: str, excl: str, bad_path: str):
    """Shared shape of the instagram/facebook/twitter families
    (social.js:157-191): profile-URL regex + exclusion of non-profile
    paths. The reference uses negative lookahead; RE2 (DuckDB) has
    none, so the exclusion is an explicit predicate — same admitted
    set. The exact lookahead patterns live engine-side in
    functions/entities.py and are oracle-matched in
    tests/test_engine_vs_oracle.py."""
    pat = rf"http(s)?://(www\.)?{domain}/{path_chars}+"
    oracle = f"""SELECT s_suppkey, built,
              CASE WHEN regexp_extract(built, '{pat}') NOT LIKE '%{excl}%'
                   THEN regexp_extract(built, '{pat}') END AS profile
       FROM (SELECT s_suppkey,
                    'see https://{domain}/' ||
                    CASE WHEN s_suppkey % 4 = 0 THEN '{bad_path}' ELSE 'user' END ||
                    s_suppkey::VARCHAR || ' now' AS built
             FROM supplier)"""

    @register(name, oracle)
    def q(spark, sf):
        built = F.concat(
            F.lit(f"see https://{domain}/"),
            F.when(F.col("s_suppkey") % 4 == 0, F.lit(bad_path)).otherwise(F.lit("user")),
            F.col("s_suppkey").cast("string"),
            F.lit(" now"),
        )
        hit = F.regexp_extract(built, pat, 0)
        return T(spark, sf, "supplier").select(
            "s_suppkey",
            built.alias("built"),
            F.when(~hit.contains(excl), hit).alias("profile"),
        )

    return q


fn_regex_instagram = _social_regex_entry(
    "fn_regex_instagram", "instagram.com", "[A-Za-z0-9_.]", "/p/", "p/"
)
fn_regex_facebook = _social_regex_entry(
    "fn_regex_facebook", "facebook.com", "[A-Za-z0-9_.-]", "share.php", "share.php?u="
)
fn_regex_twitter = _social_regex_entry(
    "fn_regex_twitter", "twitter.com", "[A-Za-z0-9_]", "intent/", "intent/tweet"
)


@register(
    "fn_page_title",
    """SELECT doc_id, trim(array_to_string(string_split(text, ' ')[1:5], ' ')) AS page_title
       FROM documents
       WHERE trim(array_to_string(string_split(text, ' ')[1:5], ' ')) <> ''""",
)
def fn_page_title(spark, sf):
    """First title text, trimmed, dropped when empty (social.js:62-65);
    title here = leading words of the document."""
    title = F.trim(F.array_join(F.slice(F.split(F.col("text"), " "), 1, 5), " "))
    return (
        T(spark, sf, "documents")
        .select("doc_id", title.alias("page_title"))
        .filter(F.col("page_title") != "")
    )


# =====================================================================
# §2.4 predicates
# =====================================================================


@register(
    "filt_same_domain",
    """SELECT event_id, link FROM (
         SELECT event_id,
                'http://h' || (user_id % 7)::VARCHAR || '.example.com/' AS seed_url,
                'http://h' || (event_id % 7)::VARCHAR || '.example.com/p/' ||
                  event_id::VARCHAR AS link
         FROM events)
       WHERE regexp_extract(link, '^[a-z]+://([^/]+)', 1) =
             regexp_extract(seed_url, '^[a-z]+://([^/]+)', 1)""",
)
def filt_same_domain(spark, sf):
    """The always-on same-domain gate (social.js:115-119, §1.4.2):
    discovered link admitted only when hostname == seed hostname."""
    from ..functions import urls as U

    e = T(spark, sf, "events").select(
        "event_id",
        F.concat(
            F.lit("http://h"), (F.col("user_id") % 7).cast("string"), F.lit(".example.com/")
        ).alias("seed_url"),
        F.concat(
            F.lit("http://h"),
            (F.col("event_id") % 7).cast("string"),
            F.lit(".example.com/p/"),
            F.col("event_id").cast("string"),
        ).alias("link"),
    )
    return e.filter(U.host_col(F.col("link")) == U.host_col(F.col("seed_url"))).select(
        "event_id", "link"
    )


@register(
    "filt_imgurl_admission",
    """SELECT p_partkey, coalesce(imgurl, imgrefurl) AS admitted_url FROM (
         SELECT p_partkey,
                CASE WHEN p_partkey % 3 = 0 THEN NULL
                     ELSE 'http://img.example.com/' || p_partkey::VARCHAR END AS imgurl,
                CASE WHEN p_partkey % 5 = 0 THEN NULL
                     ELSE 'http://ref.example.com/' || p_partkey::VARCHAR END AS imgrefurl
         FROM part)
       WHERE coalesce(imgurl, imgrefurl) IS NOT NULL""",
)
def filt_imgurl_admission(spark, sf):
    """Admit if imgurl || imgrefurl (reverse_image_google_url.js:96-100)."""
    imgurl = F.when(
        F.col("p_partkey") % 3 != 0,
        F.concat(F.lit("http://img.example.com/"), F.col("p_partkey").cast("string")),
    )
    imgrefurl = F.when(
        F.col("p_partkey") % 5 != 0,
        F.concat(F.lit("http://ref.example.com/"), F.col("p_partkey").cast("string")),
    )
    admitted = F.coalesce(imgurl, imgrefurl)
    return (
        T(spark, sf, "part")
        .select("p_partkey", admitted.alias("admitted_url"))
        .filter(F.col("admitted_url").isNotNull())
    )


@register(
    "filt_video_admission",
    """SELECT doc_id, title, link FROM (
         SELECT doc_id, trim(substr(text, 1, 20)) AS title,
                CASE WHEN doc_id % 11 = 0 THEN NULL
                     ELSE 'http://video.example.com/v/' || doc_id::VARCHAR END AS link
         FROM documents)
       WHERE title <> '' AND link IS NOT NULL""",
)
def filt_video_admission(spark, sf):
    """Video rows admitted only with title && link (bing_scraper.js:641-643)."""
    title = F.trim(F.substring("text", 1, 20))
    link = F.when(
        F.col("doc_id") % 11 != 0,
        F.concat(F.lit("http://video.example.com/v/"), F.col("doc_id").cast("string")),
    )
    return (
        T(spark, sf, "documents")
        .select("doc_id", title.alias("title"), link.alias("link"))
        .filter((F.col("title") != "") & F.col("link").isNotNull())
    )


# =====================================================================
# §2.5 set ops
# =====================================================================


@register(
    "union_place_layouts",
    """SELECT * FROM (
         SELECT 'c-' || c_custkey::VARCHAR AS place_id, 'A' AS layout,
                CAST(round(c_acctbal * 100) AS BIGINT) AS rating_cents,
                CAST(NULL AS VARCHAR) AS phone
         FROM customer
         UNION ALL BY NAME
         SELECT 's-' || s_suppkey::VARCHAR AS place_id, 'B' AS layout,
                '(' || lpad((s_suppkey % 900 + 100)::VARCHAR, 3, '0') || ') 555-0' ||
                  lpad((s_nationkey % 100)::VARCHAR, 2, '0') AS phone
         FROM supplier)""",
)
def union_place_layouts(spark, sf):
    """Two place layouts with different column sets appended into one
    places array (bing_scraper.js:383-471 ∪ :474-549):
    unionByName(allowMissingColumns) — absent fields become NULL."""
    a = T(spark, sf, "customer").select(
        F.concat(F.lit("c-"), F.col("c_custkey").cast("string")).alias("place_id"),
        F.lit("A").alias("layout"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("rating_cents"),
    )
    b = T(spark, sf, "supplier").select(
        F.concat(F.lit("s-"), F.col("s_suppkey").cast("string")).alias("place_id"),
        F.lit("B").alias("layout"),
        F.concat(
            F.lit("("),
            F.lpad((F.col("s_suppkey") % 900 + 100).cast("string"), 3, "0"),
            F.lit(") 555-0"),
            F.lpad((F.col("s_nationkey") % 100).cast("string"), 2, "0"),
        ).alias("phone"),
    )
    return a.unionByName(b, allowMissingColumns=True)


@register(
    "udtf_link_explode",
    """SELECT doc_id, unnest(string_split(substr(text, 1, 60), ' ')) AS link
       FROM documents""",
)
def udtf_link_explode(spark, sf):
    """getLinks($): one page row -> many link rows (social.js:130-143)
    — the UDTF shape is a plain explode."""
    return T(spark, sf, "documents").select(
        "doc_id", F.explode(F.split(F.substring("text", 1, 60), " ")).alias("link")
    )


# =====================================================================
# §2.6 limits
# =====================================================================


@register(
    "limit_clamp_clicking",
    """SELECT p_brand, p_partkey, clamp FROM (
         SELECT p_brand, p_partkey,
                least(10 + p_size % 20, 20) AS clamp,
                row_number() OVER (PARTITION BY p_brand
                                   ORDER BY p_retailprice DESC, p_partkey) AS rn
         FROM part)
       WHERE rn <= clamp""",
)
def limit_clamp_clicking(spark, sf):
    """max_images_clicking = min(max_images_clicking, max_images), then
    the expensive click loop breaks at the clamp
    (reverse_image_google_final.js:44-46, :89-92) — the limit is pushed
    BEFORE the expensive stage."""
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), "p_partkey")
    clamp = F.least(F.lit(10) + F.col("p_size") % 20, F.lit(20))
    return (
        T(spark, sf, "part")
        .select("p_brand", "p_partkey", clamp.alias("clamp"), F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= F.col("clamp"))
        .select("p_brand", "p_partkey", "clamp")
    )


@register(
    "limit_num_pages",
    """SELECT source, doc_id, page_num FROM (
         SELECT source, doc_id,
                row_number() OVER (PARTITION BY source ORDER BY doc_id) AS page_num
         FROM documents)
       WHERE page_num <= 3""",
)
def limit_num_pages(spark, sf):
    """Crawl exactly num_pages pages per keyword (google_scraper.js:38-43)."""
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        T(spark, sf, "documents")
        .select("source", "doc_id", F.row_number().over(w).alias("page_num"))
        .filter(F.col("page_num") <= 3)
    )


# =====================================================================
# §2.7 joins
# =====================================================================


@register(
    "join_frontier_robots",
    """SELECT c_custkey, n_name AS host,
              NOT coalesce(r_regionkey % 2 = 0, FALSE) AS allowed
       FROM customer
       JOIN nation ON c_nationkey = n_nationkey
       LEFT JOIN region ON n_regionkey = r_regionkey""",
)
def join_frontier_robots(spark, sf):
    """Per-host robots rules joined onto the frontier (SURVEY.md §2.7
    join_frontier_robots): robots is a small dim -> broadcast, never a
    shuffle of the 10^10-row frontier side."""
    c = T(spark, sf, "customer")
    n = T(spark, sf, "nation")
    r = T(spark, sf, "region").select(
        "r_regionkey", (F.col("r_regionkey") % 2 == 0).alias("disallow")
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            "c_custkey",
            F.col("n_name").alias("host"),
            (~F.coalesce(F.col("disallow"), F.lit(False))).alias("allowed"),
        )
    )


# =====================================================================
# §2.8 iterative-dataflow policies (SQL-expressible row/window semantics)
# =====================================================================


@register(
    "loop_depth_gate",
    """SELECT event_id, event_id % 4 AS depth, (event_id % 4) < 2 AS expanded
       FROM events""",
)
def loop_depth_gate(spark, sf):
    """Links followed only while depth < link_depth (social.js:67-76:
    'only crawl exactly with depth one') — the expansion-stage
    predicate. The engine twin is exercised in tests/test_multidepth.py."""
    depth = F.col("event_id") % 4
    return T(spark, sf, "events").select(
        "event_id", depth.alias("depth"), (depth < 2).alias("expanded")
    )


@register(
    "loop_pagination",
    """SELECT user_id, event_id, page_num FROM (
         SELECT user_id, event_id,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS page_num
         FROM events)
       WHERE page_num <= 3""",
)
def loop_pagination(spark, sf):
    """Sequential page supersteps per seed, results in page order
    (google_scraper.js:43-94): ordering key (seed, page_num)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        T(spark, sf, "events")
        .select("user_id", "event_id", F.row_number().over(w).alias("page_num"))
        .filter(F.col("page_num") <= 3)
    )


@register(
    "late_partial_content",
    """SELECT event_id,
              CASE WHEN value < 50 THEN 'ok'
                   WHEN value < 90 THEN 'partial'
                   ELSE 'error' END AS status,
              CASE WHEN value < 90 THEN props END AS body,
              CASE WHEN value >= 90
                   THEN 'Navigation Timeout Exceeded: ' || event_id::VARCHAR END AS error_msg
       FROM events""",
)
def late_partial_content(spark, sf):
    """Timeout fallback ladder (crawl/render.js:15-32): full content ->
    partial content retained -> rethrow ORIGINAL timeout error. Rows
    keep a body for ok|partial; error rows carry the first error."""
    status = (
        F.when(F.col("value") < 50, "ok").when(F.col("value") < 90, "partial").otherwise("error")
    )
    return T(spark, sf, "events").select(
        "event_id",
        status.alias("status"),
        F.when(F.col("value") < 90, F.col("props")).alias("body"),
        F.when(
            F.col("value") >= 90,
            F.concat(
                F.lit("Navigation Timeout Exceeded: "), F.col("event_id").cast("string")
            ),
        ).alias("error_msg"),
    )


@register(
    "politeness_delay",
    """SELECT event_id, user_id, gap_us,
              coalesce(gap_us < 50000, FALSE) AS too_fast FROM (
         SELECT event_id, user_id,
                epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                       ORDER BY ts, event_id) AS gap_us
         FROM events)""",
)
def politeness_delay(spark, sf):
    """Per-host min-interval accounting (render.js:20-22 delay;
    50-250ms waits, google_scraper.js:626): lag() over fetch
    timestamps; first fetch per host has NULL gap."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts is TIMESTAMP_NTZ; session TZ is UTC so the cast is identity
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    return T(spark, sf, "events").select(
        "event_id",
        "user_id",
        gap.alias("gap_us"),
        F.coalesce(gap < 50000, F.lit(False)).alias("too_fast"),
    )


@register(
    "timeout_budget",
    """SELECT event_id, timeout_ms, elapsed_ms,
              CASE WHEN elapsed_ms > timeout_ms THEN 'error' ELSE 'ok' END AS status
       FROM (SELECT event_id,
                    CASE event_type WHEN 'click' THEN 3000
                                    WHEN 'view' THEN 12000
                                    WHEN 'purchase' THEN 15000
                                    ELSE 25000 END AS timeout_ms,
              CAST(round(value * 100) AS BIGINT) AS elapsed_ms
             FROM events)""",
)
def timeout_budget(spark, sf):
    """Per-op timeout classes 3s/12s/15s/25s
    (reverse_image_google_url.js:17,:33; reverse_image_google_final.js:60;
    nytimes.js:16) — rows exceeding their class budget become errors."""
    timeout = (
        F.when(F.col("event_type") == "click", 3000)
        .when(F.col("event_type") == "view", 12000)
        .when(F.col("event_type") == "purchase", 15000)
        .otherwise(25000)
    )
    elapsed = F.round(F.col("value") * 100).cast("bigint")
    return T(spark, sf, "events").select(
        "event_id",
        timeout.alias("timeout_ms"),
        elapsed.alias("elapsed_ms"),
        F.when(elapsed > timeout, "error").otherwise("ok").alias("status"),
    )


@register(
    "udf_page_evaluate",
    r"""SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words,
               coalesce(nullif(regexp_extract(text, '([A-Za-z]+)', 1), ''), 'none')
                 AS first_word
        FROM documents""",
)
def udf_page_evaluate(spark, sf):
    """page.evaluate(fn, args): ships a closure into the renderer
    process and returns JSON (google_scraper.js:123, 214, 447;
    reverse_image_google_final.js:111 with args at :181). Spark twin: a
    cloudpickled extraction closure shipped to executors as an
    Arrow-vectorized pandas UDF returning a JSON-shaped struct — the
    Node<->Chromium DevTools boundary maps to the JVM<->Python Arrow
    IPC boundary, and batch (never per-row) evaluation is the
    north-rule requirement."""
    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out = StructType(
        [StructField("n_words", LongType()), StructField("first_word", StringType())]
    )

    def _evaluate(text):
        return pd.DataFrame(
            {
                "n_words": text.str.count(r"[A-Za-z]+").astype("int64"),
                "first_word": text.str.extract(r"([A-Za-z]+)", expand=False).fillna(
                    "none"
                ),
            }
        )

    # module uses postponed annotations; pandas_udf needs real classes
    _evaluate.__annotations__ = {"text": pd.Series, "return": pd.DataFrame}
    evaluate = F.pandas_udf(out)(_evaluate)

    return (
        T(spark, sf, "documents")
        .select("doc_id", evaluate(F.col("text")).alias("r"))
        .select("doc_id", "r.n_words", "r.first_word")
    )


@register(
    "retry_fallback_selector",
    """SELECT event_id,
              coalesce(nullif(regexp_extract(props, '"k": ([0-9]+)', 1), ''),
                       nullif(regexp_extract(props, '"v": ([0-9]+)', 1), ''),
                       'none') AS selected
       FROM events""",
)
def retry_fallback_selector(spark, sf):
    """Selector fallback chains (.rg_bx else div[data-ri],
    reverse_image_google_final.js:127-130; bing sitelinks
    :127-130) = coalesce of extraction expressions."""
    prim = F.nullif(F.regexp_extract("props", r'"k": ([0-9]+)', 1), F.lit(""))
    fb = F.nullif(F.regexp_extract("props", r'"v": ([0-9]+)', 1), F.lit(""))
    return T(spark, sf, "events").select(
        "event_id", F.coalesce(prim, fb, F.lit("none")).alias("selected")
    )


@register(
    "seen_recrawl_membership",
    """WITH u AS (SELECT 'http://h' || (o_custkey % 50)::VARCHAR ||
                         '.example.com/o' || o_orderkey::VARCHAR AS url,
                         o_orderkey
                  FROM orders),
         seen AS (SELECT DISTINCT url FROM u WHERE o_orderkey % 3 <> 0),
         del  AS (SELECT DISTINCT url FROM u
                  WHERE o_orderkey % 3 <> 0 AND o_orderkey % 7 = 0),
         cand AS (SELECT DISTINCT url FROM u WHERE o_orderkey % 2 = 0)
       SELECT url FROM cand
       WHERE url NOT IN (SELECT url FROM seen
                         WHERE url NOT IN (SELECT url FROM del))""",
)
def seen_recrawl_membership(spark, sf):
    """Deletion-aware URL-seen membership (north_star's cuckoo-filter
    sidecar): new = candidates \\ (seen \\ deleted). Computed the
    engine's way: tombstones are a subset of seen, so new is exactly
    (cand \\ seen) ∪ (deleted ⋉ cand). Both halves route through a
    pruning filter — the bloom over seen for the first, a per-shard
    cuckoo over the tombstones for the second — with exact joins
    confirming, so the oracle match (which computes the general
    set difference) proves the algebra and the filters never change
    the result. Engine integration: CrawlEngine.forget() /
    _update_seen (plans/loop.py); unit invariants in
    tests/test_recrawl.py."""
    from .seen import bloom_build, cuckoo_build, cuckoo_prefilter, new_urls_exact

    u = T(spark, sf, "orders").select(
        F.concat(
            F.lit("http://h"),
            (F.col("o_custkey") % 50).cast("string"),
            F.lit(".example.com/o"),
            F.col("o_orderkey").cast("string"),
        ).alias("url"),
        "o_orderkey",
    )
    seen = u.filter("o_orderkey % 3 != 0").select("url").distinct()
    deleted = u.filter("o_orderkey % 3 != 0 and o_orderkey % 7 = 0").select("url").distinct()
    cand = u.filter("o_orderkey % 2 = 0").select("url").distinct()
    params = dict(n_buckets=16, n_bits=1 << 16, k=4)
    appended = new_urls_exact(cand, seen, bloom=bloom_build(seen, **params), **params)
    maybe_deleted = cuckoo_prefilter(cand, cuckoo_build(deleted, n_buckets=16), n_buckets=16)
    resurrected = maybe_deleted.filter("maybe_deleted").select("url").join(
        deleted, "url", "left_semi"
    )
    return appended.unionByName(resurrected)


def _proxy_wave_oracle():
    from .pipeline import _h32_sql

    return f"""WITH s AS (SELECT 'http://h' || (o_custkey % 50)::VARCHAR ||
                         '.example.com/o' || o_orderkey::VARCHAR AS url,
                         'h' || (o_custkey % 50)::VARCHAR || '.example.com' AS host,
                         o_orderkey
                  FROM orders),
         p AS (SELECT url, o_orderkey,
                      {_h32_sql("host", "px")} % 8 AS proxy_id FROM s)
       SELECT url, proxy_id,
              (row_number() OVER (PARTITION BY proxy_id
                                  ORDER BY o_orderkey, url) - 1) // 4 AS wave
       FROM p"""


@register("gate_proxy_pool", _proxy_wave_oracle())
def gate_proxy_pool(spark, sf):
    """Proxy-pool gating (north_star: "proxy/politeness gating"; the
    reference's cloud infra routes fetches through a proxy pool —
    README.md:3-5 — though the repo itself carries no proxy code, so
    the semantics here are the standard crawl practice): sticky
    host->proxy affinity (hash of host over an 8-proxy pool, keeping
    per-site cookies/rate-limits on one egress IP) plus per-proxy
    concurrency waves — fetch k on a proxy runs in wave (k-1) div C
    (C=4 concurrent slots per proxy); waves serialize, peers within a
    wave run concurrently. Pure window-function rate accounting, same
    shape as schedule_pops' budget windows. At scale the window
    partitions by proxy_id over one superstep's scheduled rows (budget-
    bounded per seed), never the whole frontier."""
    from .pipeline import _h32

    s = T(spark, sf, "orders").select(
        F.concat(
            F.lit("http://h"),
            (F.col("o_custkey") % 50).cast("string"),
            F.lit(".example.com/o"),
            F.col("o_orderkey").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("h"), (F.col("o_custkey") % 50).cast("string"), F.lit(".example.com")
        ).alias("host"),
        "o_orderkey",
    )
    p = s.select("url", "o_orderkey", (_h32(F.col("host"), "px") % 8).alias("proxy_id"))
    return p.select(
        "url",
        "proxy_id",
        F.expr("(row_number() OVER (PARTITION BY proxy_id ORDER BY o_orderkey, url) - 1) div 4")
        .cast("bigint")
        .alias("wave"),
    )


# ------------------------------------------------------ JSON result ingest


@register(
    "src_json_results",
    """WITH rendered AS (
          SELECT doc_id,
                 '{"doc": {"id": ' || doc_id || ', "lang": "' || lang || '"}, '
                 || '"stats": {"chars": ' || n_chars || ', "bucket": '
                 || (doc_id % 7) || '}, '
                 || '"tags": ["' || lang || '", "' || source || '"]}' AS js
          FROM documents)
       SELECT doc_id,
              CAST(json_extract(js, '$.doc.id') AS BIGINT) AS parsed_id,
              json_extract_string(js, '$.doc.lang') AS lang,
              CAST(json_extract(js, '$.stats.chars') AS BIGINT) AS n_chars,
              CAST(json_extract(js, '$.stats.bucket') AS INT) AS bucket,
              json_extract_string(js, '$.tags[1]') AS tag2,
              (CAST(json_extract(js, '$.doc.id') AS BIGINT) = doc_id) AS id_roundtrip
       FROM rendered""",
)
def src_json_results(spark, sf):
    """Schema-on-read ingest of stored nested-JSON result records —
    the inverse of sink_result_json and the shape every consumer of
    the reference's output handles (per-item results are nested JSON
    objects with scalar fields, sub-objects, and arrays, SURVEY §1.1 /
    google_scraper.js:60-89). The record text is rendered
    deterministically from columns (identical bytes in both engines),
    then parsed back through a DECLARED StructType — from_json's typed
    projection — with a round-trip flag proving parse fidelity.

    Scale shape: from_json is a codegen'd JVM expression (Jackson
    under the hood) in a map-only projection — no Python, no shuffle;
    at 100 TB of JSONL this is the standard first stage after the
    file scan, and the declared schema lets the parquet-style column
    pruning happen at parse time (absent fields are NULL, matching
    the reference's conditional-add semantics, SURVEY §1.3)."""
    schema = (
        "doc struct<id: bigint, lang: string>, "
        "stats struct<chars: bigint, bucket: int>, "
        "tags array<string>"
    )
    js = F.concat(
        F.lit('{"doc": {"id": '),
        F.col("doc_id"),
        F.lit(', "lang": "'),
        F.col("lang"),
        F.lit('"}, "stats": {"chars": '),
        F.col("n_chars"),
        F.lit(', "bucket": '),
        (F.col("doc_id") % 7),
        F.lit('}, "tags": ["'),
        F.col("lang"),
        F.lit('", "'),
        F.col("source"),
        F.lit('"]}'),
    )
    rendered = T(spark, sf, "documents").select("doc_id", js.alias("js"))
    p = F.from_json("js", schema)
    return rendered.select(
        "doc_id",
        p["doc"]["id"].alias("parsed_id"),
        p["doc"]["lang"].alias("lang"),
        p["stats"]["chars"].alias("n_chars"),
        p["stats"]["bucket"].alias("bucket"),
        p["tags"][1].alias("tag2"),
        (p["doc"]["id"] == F.col("doc_id")).alias("id_roundtrip"),
    )
