"""Crawl ingest: WARC round trips (plain, gzip, path streams),
main-content extraction, page metadata, robots rules and URL dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entry_queries.common import _t, query
from unstructured_spark.operators.storage import spread


# round trip is the identity over documents: any framing or
# parse defect in the WARC source breaks this hash
@query(oracle="""
            select doc_id,
                   'conversion' as warc_type,
                   cast(strlen(coalesce(text, '')) as bigint) as n_bytes,
                   coalesce(text, '') as text
            from documents
        """)
def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/WET source round trip (new in r11): serialize every
    document as a WARC conversion record JVM-side (pure string
    expressions — Content-Length framing via octet_length), pack the
    records into 32 bucket archives, and run the distributed WARC
    parser (sources/warc.py, the Common Crawl ingest path) over the
    archive blobs. Output = one row per recovered record; the oracle
    replays the round trip as the identity over documents, so any
    framing/parse defect breaks the hash. Scale shape mirrors real
    ingest: one map-only expansion task per archive, no shuffle after
    the bucket pack."""
    from unstructured_spark.sources.warc import parse_warc

    docs = _t(spark, sf_dir, "documents")
    blobs = _warc_record_buckets(docs).select(
        F.concat(F.lit("mem://warc-"), F.col("_b")).alias("path"),
        F.encode(F.array_join("_recs", ""), "UTF-8").alias("content"),
    )
    return _warc_rows_projection(parse_warc(blobs))


def _warc_record_expr(content_type: str = "text/plain"):
    """The shared JVM-side WARC conversion-record synthesis used by
    the ingest round-trip queries (plain blob, gzip blob, paths, e2e
    crawl): pure string expressions, Content-Length framed via
    octet_length."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    return F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "
              "http://corpus.local/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("\r\nWARC-Record-ID: <urn:md5:"),
        F.md5(F.col("doc_id").cast("string")),
        F.lit(">\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
              f"Content-Type: {content_type}\r\nContent-Length: "),
        F.octet_length(txt).cast("string"),
        F.lit("\r\n\r\n"),
        txt,
        F.lit("\r\n\r\n"),
    )


def _warc_record_buckets(
    docs: DataFrame, *, content_type: str = "text/plain"
) -> DataFrame:
    """(_b, _recs): per-bucket doc_id-ordered arrays of serialized WARC
    records — the staging all three ingest round-trip queries share.
    One map-side-combinable groupBy. Bucket id = (doc_id % 32) + 32 *
    (doc_id div 16000): ≥32-way parallel at bench scale AND bounded at
    ~500 docs per archive regardless of corpus size — real crawls ship
    MORE fixed-size shards, not bigger ones, and a corpus-scale
    collect_list row would make the synthesis stage (not the parser
    under test) the probe bottleneck.

    The pack shuffle is a USER-SPECIFIED ``repartition(par, "_b")``
    that the groupBy reuses (same key, same count — one exchange
    either way, guide §2.4), not the aggregation's own implicit
    exchange, because AQE coalesces implicit exchanges BY BYTES: the
    packed archives are kilobytes at bench scale, so every downstream
    consumer — the WARC parser, the main-content classifier — was
    funneled onto ONE task (r13 census: q_crawl_e2e ran 3 jobs / 3
    tasks total on local[32]) while 31 cores idled. Byte-based
    coalescing is the wrong cost model for expression-heavy blob
    parsing; a user repartition is exactly the AQE-exempt mechanism
    Spark provides for that. At 100 TB the bucket count is huge and
    the exchange carries the same corpus bytes the pack always
    shuffled — no extra pass at any scale."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select(
            F.expr("doc_id % 32 + 32 * (doc_id div 16000)").alias("_b"),
            F.struct(
                F.col("doc_id"),
                _warc_record_expr(content_type).alias("_r"),
            ).alias("_s"),
        )
        .repartition(par, "_b")
        .groupBy("_b")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("_s")), lambda s: s["_r"]
            ).alias("_recs")
        )
    )


def _warc_rows_projection(parsed: DataFrame) -> DataFrame:
    return parsed.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        "warc_type",
        F.col("n_bytes"),
        F.col("text"),
    )


# gzip/paths round trips recover the identical record set: the
# oracle is the same identity over documents — any defect in
# the gzip member decoder or the streaming file-handle
# assembler surfaces as a hash break against it
@query(oracle="""
            select doc_id,
                   'conversion' as warc_type,
                   cast(strlen(coalesce(text, '')) as bigint) as n_bytes,
                   coalesce(text, '') as text
            from documents
        """)
def q_warc_ingest_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip WARC round trip (new in r12): same record synthesis as
    q_warc_ingest, but each record becomes its own gzip MEMBER — the
    Common Crawl .warc.gz layout — before the archives hit the
    distributed parser. This puts the member decoder (sources/warc.py
    _iter_gzip_members_stream, where both r11 quadratics lived) behind a DuckDB hash oracle, not just unit tests: the
    oracle replays the round trip as the identity over documents, so
    any member-boundary or framing defect after decompression breaks
    the hash. Scale shape: one groupBy pack + one map-only
    compress+parse task per archive, no further shuffle."""
    import gzip as _gz

    import pandas as pd

    from unstructured_spark.sources.warc import parse_warc

    docs = _t(spark, sf_dir, "documents")
    staged = _warc_record_buckets(docs)

    def pack(batches):
        out = []
        for pdf in batches:
            for b, recs in zip(pdf["_b"], pdf["_recs"]):
                content = b"".join(
                    # level 1: the round trip oracles the DECODER; level 9
                    # compression was 80% of the probe cell's cost
                    _gz.compress(r.encode("utf-8"), 1, mtime=0) for r in recs
                )
                out.append({"path": f"mem://warc-gz-{b}", "content": content})
                # flush incrementally: an Arrow input batch can carry
                # hundreds of archives at probe scale — buffering the
                # whole batch's output held >100 MB of objects per task
                if len(out) >= 32:
                    yield pd.DataFrame(out, columns=["path", "content"])
                    out = []
        yield pd.DataFrame(out, columns=["path", "content"])

    blobs = staged.mapInPandas(pack, "path string, content binary")
    return _warc_rows_projection(parse_warc(blobs))


@query(oracle="""
            select doc_id,
                   'conversion' as warc_type,
                   cast(strlen(coalesce(text, '')) as bigint) as n_bytes,
                   coalesce(text, '') as text
            from documents
        """)
def q_warc_paths_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paths-table WARC ingest (new in r12) — the 100 TB shape,
    end-to-end: pack documents into archive FILES on disk (even
    buckets per-record-gzip, odd buckets plain, so BOTH streaming
    decoders are oracled), then ingest via read_warc_paths: a paths
    table whose files are opened ON THE EXECUTOR and parsed from a
    streaming file handle (sources/files.py read_paths +
    sources/warc.py iter_warc_records_stream). Archive bytes never
    ride a DataFrame row — no 2 GB binaryFile cap, one-chunk resident
    set. The write stage and the open stage are separated by the
    ``tasks`` exchange, so files are complete before any open.
    Fixture writes are executor-local (valid on local[*]; on a real
    cluster the paths table points at shared storage and the write
    stage doesn't exist). Oracle: identity over documents."""
    import gzip as _gz
    import os as _os
    import tempfile

    import pandas as pd

    from unstructured_spark.sources.warc import read_warc_paths

    docs = _t(spark, sf_dir, "documents")
    staged = _warc_record_buckets(docs)
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out_dir = _os.path.join(
        tempfile.gettempdir(), f"uspark_warc_paths_{sf_tag}"
    )

    def write(batches):
        _os.makedirs(out_dir, exist_ok=True)
        rows = []
        for pdf in batches:
            for b, recs in zip(pdf["_b"], pdf["_recs"]):
                if int(b) % 2 == 0:
                    content = b"".join(
                        _gz.compress(r.encode("utf-8"), 1, mtime=0)
                        for r in recs
                    )
                    name = f"bucket-{int(b):02d}.warc.gz"
                else:
                    content = "".join(recs).encode("utf-8")
                    name = f"bucket-{int(b):02d}.warc"
                final = _os.path.join(out_dir, name)
                tmp = final + f".tmp{_os.getpid()}"
                with open(tmp, "wb") as fh:
                    fh.write(content)
                _os.replace(tmp, final)  # atomic: readers see whole files
                rows.append({"path": final})
                if len(rows) >= 256:
                    yield pd.DataFrame(rows, columns=["path"])
                    rows = []
        yield pd.DataFrame(rows, columns=["path"])

    paths = staged.mapInPandas(write, "path string")
    return _warc_rows_projection(read_warc_paths(paths, tasks=8))


# replays the WHOLE main-content decision procedure: the 8
# chrome blocks are bad by construction (ancestor hint / 100%
# link density), so only the content sequence (heading, chunk,
# note) needs classifying — long (norm >= 40 chars) = decided
# good; heading good iff any long follows (headline
# promotion); other shorts good iff a long exists on BOTH
# sides (nearest decided neighbor elsewhere is page chrome =
# bad). Seqs: heading 0, chunk i at 2i+1, note i at 2i+2.
@query(oracle="""
            with t as (
              select doc_id,
                     list_filter(string_split(trim(coalesce(text, '')),
                                              ' '), x -> x != '') as w
              from documents
            ), c as (
              select doc_id, 0 as seq,
                     'Record ' || doc_id || ' overview' as btext
              from t
              union all
              select doc_id, 2 * i + 1,
                     array_to_string(w[15 * i + 1 : 15 * i + 15], ' ')
              from t, unnest(range(0, (len(w) + 14) // 15)) as u(i)
              union all
              select doc_id, 2 * i + 2, 'Note ' || i || '.'
              from t, unnest(range(0, (len(w) + 14) // 15 - 1)) as u(i)
            ), g as (
              select doc_id, seq, btext, length(btext) >= 40 as is_long
              from c
            ), cls as (
              select doc_id, seq, btext,
                     is_long
                     or (seq = 0 and coalesce(
                          bool_or(is_long) over (
                            partition by doc_id order by seq
                            rows between 1 following
                                     and unbounded following),
                          false))
                     or (seq > 0
                         and coalesce(bool_or(is_long) over (
                               partition by doc_id order by seq
                               rows between unbounded preceding
                                        and 1 preceding), false)
                         and coalesce(bool_or(is_long) over (
                               partition by doc_id order by seq
                               rows between 1 following
                                        and unbounded following), false))
                       as good
              from g
            )
            select doc_id,
                   cast(8 + count(*) as int) as n_blocks,
                   cast(count(*) filter (where good) as int) as n_good,
                   cast(length(coalesce(string_agg(btext,
                          chr(10) || chr(10) order by seq)
                          filter (where good), '')) as bigint)
                     as main_chars,
                   coalesce(string_agg(btext, chr(10) || chr(10)
                          order by seq) filter (where good), '')
                     as main_text
            from cls
            group by doc_id
        """)
def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-content extraction / boilerplate removal (new in r12)
    — the WARC→text step of a crawl pipeline (CCNet / RefinedWeb /
    Dolma run exactly this between ingest and quality filtering).
    Wrap each document in a realistic page: header/nav, breadcrumbs, a
    headline, the doc's 15-word paragraph chunks with short "Note i."
    metadata lines interleaved, a link farm, sidebar, cookie banner
    and footer — then run the jusText-shaped block classifier
    (parsers/main_content.py: integer link density, 40-char short
    threshold, nearest-decided-neighbor smoothing, headline promotion)
    distributed via operators/main_content.py. The oracle replays the
    ENTIRE decision procedure in SQL: chrome blocks are bad by
    construction (ancestor hints / 100% link density), content blocks
    classify by integer lengths + the two smoothing window rules.
    Scale shape: synthesis, parse and per-doc rollup all happen in one
    projection + one mapInPandas; the leading ``spread`` matters at
    small scale only (the sf parquet is one input split, which
    serialized the whole Python classify stage onto one core —
    measured 2.5s -> 0.35s)."""
    from unstructured_spark.operators.main_content import (
        extract_main_content,
    )

    docs = spread(_t(spark, sf_dir, "documents"))
    return extract_main_content(_synth_crawl_pages(docs))


def _synth_crawl_pages(docs: DataFrame) -> DataFrame:
    """(doc_id, text=page html): the deterministic realistic-page
    synthesis shared by q_main_content and the e2e crawl pipeline —
    chrome (header/nav, breadcrumbs, link farm, sidebar, cookie
    banner, footer) around a headline + the doc's 15-word paragraph
    chunks with short "Note i." metadata lines interleaved. Pure JVM
    string/array expressions; paragraphs are HTML-escaped so the
    parse round trip is the identity."""
    esc = (
        "replace(replace(replace({x}, '&', '&amp;'), '<', '&lt;'),"
        " '>', '&gt;')"
    )
    return docs.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), "\\s+"),
            lambda x: x != F.lit(""),
        ).alias("_t"),
    ).select(
        "doc_id",
        F.expr(
            "concat("
            "'<html><body>',"
            "'<header><div class=\"logo\">Corpus</div>"
            "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a>"
            "</nav></header>',"
            "'<div class=\"breadcrumbs\"><a href=\"/\">Home</a> &gt; Doc ',"
            " doc_id, '</div>',"
            "'<main><h1>Record ', doc_id, ' overview</h1>',"
            "case when size(_t) = 0 then '' else array_join("
            "  transform(sequence(0, (size(_t) + 14) div 15 - 1),"
            "    i -> concat('<p>', "
            + esc.format(x="concat_ws(' ', slice(_t, i * 15 + 1, 15))")
            + ", '</p>',"
            "      case when i < (size(_t) + 14) div 15 - 1"
            "           then concat('<p>Note ', i, '.</p>') else '' end)),"
            "  '') end,"
            "'</main>',"
            "'<div class=\"readmore\"><a href=\"/n\">continue reading one"
            "</a> <a href=\"/p\">continue reading two</a></div>',"
            "'<aside class=\"sidebar\"><h3>Related</h3>"
            "<a href=\"/r\">Other doc</a></aside>',"
            "'<div class=\"cookie-banner\">We use cookies. "
            "<a href=\"/priv\">Learn more</a></div>',"
            "'<footer><p>Copyright Corpus</p></footer></body></html>')"
        ).alias("text"),
    )


# the composed crawl chain: WARC layer = identity, classifier
# = the same decision procedure as q_main_content's oracle,
# stats = plain arithmetic over the good blocks
@query(oracle="""
            with t as (
              select doc_id,
                     list_filter(string_split(trim(coalesce(text, '')),
                                              ' '), x -> x != '') as w
              from documents
            ), c as (
              select doc_id, 0 as seq,
                     'Record ' || doc_id || ' overview' as btext
              from t
              union all
              select doc_id, 2 * i + 1,
                     array_to_string(w[15 * i + 1 : 15 * i + 15], ' ')
              from t, unnest(range(0, (len(w) + 14) // 15)) as u(i)
              union all
              select doc_id, 2 * i + 2, 'Note ' || i || '.'
              from t, unnest(range(0, (len(w) + 14) // 15 - 1)) as u(i)
            ), g as (
              select doc_id, seq, btext, length(btext) >= 40 as is_long
              from c
            ), cls as (
              select doc_id, seq, btext,
                     is_long
                     or (seq = 0 and coalesce(
                          bool_or(is_long) over (
                            partition by doc_id order by seq
                            rows between 1 following
                                     and unbounded following),
                          false))
                     or (seq > 0
                         and coalesce(bool_or(is_long) over (
                               partition by doc_id order by seq
                               rows between unbounded preceding
                                        and 1 preceding), false)
                         and coalesce(bool_or(is_long) over (
                               partition by doc_id order by seq
                               rows between 1 following
                                        and unbounded following), false))
                       as good
              from g
            ), agg as (
              select doc_id,
                     cast(8 + count(*) as int) as n_blocks,
                     cast(count(*) filter (where good) as int) as n_good,
                     cast(length(coalesce(string_agg(btext,
                            chr(10) || chr(10) order by seq)
                            filter (where good), '')) as bigint)
                       as main_chars,
                     cast(coalesce(sum(len(string_split(btext, ' ')))
                            filter (where good), 0) as bigint)
                       as main_words
              from cls
              group by doc_id
            )
            select doc_id, n_blocks, n_good, main_chars, main_words,
                   main_chars >= 100 as kept
            from agg
        """)
def q_crawl_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-to-corpus chain END TO END, hash-oracled as one query
    (new in r12): synthesize realistic HTML pages → serialize them as
    WARC response archives in-engine → run the distributed WARC parser
    (sources/warc.py) → filter text/html records → strip boilerplate
    with the jusText-shaped classifier (operators/main_content.py) →
    emit per-document corpus stats (blocks, good blocks, main chars,
    main words) and the keep flag a minimum-content quality gate would
    apply. Every stage that CCNet/RefinedWeb/Dolma-style pipelines run
    between "crawl shard" and "quality filtering" executes in the one
    plan, and the DuckDB oracle replays the composed result — the WARC
    layer contributes the identity, the classifier its full decision
    procedure, the stats plain arithmetic. Scale shape: one bounded
    groupBy pack (fixture synthesis only; real ingest reads existing
    shards) + map-only parse/classify; no other shuffle."""
    from unstructured_spark.operators.main_content import (
        extract_main_content,
    )
    from unstructured_spark.sources.warc import parse_warc

    docs = _t(spark, sf_dir, "documents")
    pages = _synth_crawl_pages(docs)
    blobs = _warc_record_buckets(
        pages, content_type="text/html"
    ).select(
        F.concat(F.lit("mem://crawl-"), F.col("_b")).alias("path"),
        F.encode(F.array_join("_recs", ""), "UTF-8").alias("content"),
    )
    recovered = parse_warc(blobs).filter(
        F.col("content_type") == "text/html"
    ).select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        "text",
    )
    main = extract_main_content(recovered)
    words = F.when(F.col("main_chars") == 0, F.lit(0)).otherwise(
        F.size(F.split(F.regexp_replace("main_text", "\n+", " "), " "))
    )
    return main.select(
        "doc_id",
        "n_blocks",
        "n_good",
        "main_chars",
        words.cast("bigint").alias("main_words"),
        (F.col("main_chars") >= 100).alias("kept"),
    )


# head-synthesis replay: every field is a deterministic
# function of (doc_id, first ten words)
@query(oracle="""
            with t as (
              select doc_id,
                     list_filter(string_split(trim(coalesce(text, '')),
                                              ' '), x -> x != '') as w
              from documents
            )
            select doc_id,
                   'Record ' || doc_id || ' overview - Corpus' as title,
                   array_to_string(w[1:10], ' ') as description,
                   case when doc_id % 5 != 0 then
                     'http://pub.corpus.local/doc/' || doc_id end
                     as canonical_url,
                   case doc_id % 3 when 0 then 'en' when 1 then 'de' end
                     as lang,
                   case when doc_id % 4 = 0 then 'noindex, follow' end
                     as robots_meta,
                   doc_id % 4 = 0 as noindex
            from t
        """)
def q_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """<head> metadata extraction (new in r12): synthesize pages with
    deterministic head sections — title, meta description (first ten
    words of the doc), optional robots noindex directive (doc_id%4),
    optional canonical link (absent when doc_id%5=0), optional lang
    attr (doc_id%3: en / de / absent) — and run the head-only parser
    (parsers/page_meta.py via operators/main_content.py). The
    canonical URL is the key dedup_by_url collapses syndicated copies
    on; noindex is the C4/RefinedWeb drop flag. Map-only after
    ``spread``; head-only parse bounds per-row cost by head size.
    Oracle replays the synthesis field-for-field."""
    from unstructured_spark.operators.main_content import (
        extract_page_metadata,
    )

    docs = spread(_t(spark, sf_dir, "documents"))
    pages = docs.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), "\\s+"),
            lambda x: x != F.lit(""),
        ).alias("_t"),
    ).select(
        "doc_id",
        F.expr(
            "concat("
            "'<html', case doc_id % 3 when 0 then ' lang=\"en\"'"
            " when 1 then ' lang=\"de\"' else '' end, '><head>',"
            "'<title>Record ', doc_id, ' overview - Corpus</title>',"
            "'<meta name=\"description\" content=\"',"
            " concat_ws(' ', slice(_t, 1, 10)), '\">',"
            "case when doc_id % 4 = 0 then"
            " '<meta name=\"robots\" content=\"noindex, follow\">'"
            " else '' end,"
            "case when doc_id % 5 != 0 then concat("
            " '<link rel=\"canonical\" href=\"http://pub.corpus.local/doc/',"
            " doc_id, '\">') else '' end,"
            "'</head><body><p>body</p></body></html>')"
        ).alias("text"),
    )
    return extract_page_metadata(pages)


_ROBOTS_TXT = (
    "# corpus crawler policy\n"
    "User-agent: googlebot\n"
    "Disallow: /nogoogle/\n"
    "\n"
    "User-agent: *\n"
    "Disallow: /private/\n"
    "Allow: /private/pub/\n"
    "Disallow: /tmp/*\n"
    "Disallow: /*.exe$\n"
)


# replays the robots MECHANICS: the five star-group rules as a
# VALUES table, regex-matched per URL path, winner by arg_max
# over the same (2*len + allow) ordering, no-match => allowed
@query(oracle="""
            with u as (
              select doc_id,
                     'http://h' || (doc_id % 20) || '.corpus.local' as base,
                     case doc_id % 6
                       when 0 then '/a/doc' || doc_id || '.html'
                       when 1 then '/private/doc' || doc_id || '.html'
                       when 2 then '/private/pub/doc' || doc_id || '.html'
                       when 3 then '/tmp/t' || doc_id
                       when 4 then '/bin/t' || doc_id || '.exe'
                       else '/nogoogle/doc' || doc_id || '.html'
                     end as path
              from documents
            ), r(pattern, rx, rlen, allow) as (
              values ('/private/',     '^/private/',      9,  false),
                     ('/private/pub/', '^/private/pub/',  13, true),
                     ('/tmp/*',        '^/tmp/.*',        6,  false),
                     ('/*.exe$',       '^/.*\\.exe$',     7,  false)
            ), m as (
              select u.doc_id, u.base || u.path as url,
                     arg_max(struct_pack(allow := r.allow,
                                         pattern := r.pattern),
                             r.rlen * 2 + cast(r.allow as int)) as w
              from u left join r on regexp_matches(u.path, r.rx)
              group by u.doc_id, u.base || u.path
            )
            select doc_id, url,
                   coalesce(w.allow, true) as allowed,
                   w.pattern as matched_rule
            from m
        """)
def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt politeness gate (new in r12) — the filter between a
    crawl frontier and fetching, and the retroactive opt-out pass a
    corpus build re-runs. Synthesize a 20-host frontier (six URL-path
    shapes per doc: plain page, /private/, /private/pub/, /tmp/
    wildcard, .exe$-anchored, googlebot-only-disallowed), parse one
    realistic robots.txt per host for agent "corpusbot"
    (functions/robots.py: group selection, wildcard + $-anchor rules),
    and decide per RFC 9309 longest-match (Allow wins length ties).
    Scale shape: rules = map-only parse of per-host files; decision =
    ONE broadcast host-join + JVM rlike per pair + one groupBy on the
    URL key — no window, no Python per URL. The oracle replays the
    MECHANICS: the same five star-group rules as a VALUES table,
    regex-matched per URL, winner by arg_max over the identical
    (2·len + allow) ordering."""
    from unstructured_spark.functions.robots import (
        apply_robots,
        robots_rules,
    )

    docs = _t(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".corpus.local"),
    )
    path = F.expr(
        "case doc_id % 6"
        " when 0 then concat('/a/doc', doc_id, '.html')"
        " when 1 then concat('/private/doc', doc_id, '.html')"
        " when 2 then concat('/private/pub/doc', doc_id, '.html')"
        " when 3 then concat('/tmp/t', doc_id)"
        " when 4 then concat('/bin/t', doc_id, '.exe')"
        " else concat('/nogoogle/doc', doc_id, '.html') end"
    )
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("http://"), host, path).alias("url"),
    )
    robots = (
        docs.select(host.alias("host"))
        .distinct()
        .withColumn("robots_txt", F.lit(_ROBOTS_TXT))
    )
    rules = robots_rules(robots, agent="corpusbot")
    return apply_robots(urls, rules, broadcast_rules=True).select(
        "doc_id", "url", "allowed", "matched_rule"
    )


# full replay: the same deterministic URL-variant synthesis,
# then every canonicalization step with the same regexes
@query(oracle=r"""
            with u as (
              select doc_id,
                     case doc_id % 5
                       when 0 then 'http://Example.COM/page/'
                                   || (doc_id % 100)
                       when 1 then 'http://www.example.com/page/'
                                   || (doc_id % 100) || '/'
                       when 2 then 'https://example.com:443/page/'
                                   || (doc_id % 100)
                                   || '?utm_source=feed&id=' || (doc_id % 3)
                       when 3 then 'http://example.com:80/page/'
                                   || (doc_id % 100) || '#sec-' || doc_id
                       else 'http://example.com/page/' || (doc_id % 100)
                                   || '?b=2&a=1&gclid=xyz'
                     end as url
              from documents
            ), s as (
              select doc_id, regexp_replace(url, '#.*', '') as u1 from u
            ), parts as (
              select doc_id,
                -- DuckDB regexp_extract is NULL on no match where
                -- Spark's returns '' — coalesce to keep parity
                coalesce(regexp_extract(u1,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), '') as host0,
                coalesce(regexp_extract(u1,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '')
                  as path0,
                coalesce(regexp_extract(u1, '\?([^#]*)', 1), '') as q
              from s
            ), norm as (
              select doc_id,
                regexp_replace(regexp_replace(lower(host0),
                  '^www\.', ''), ':(80|443)$', '') as host,
                regexp_replace(path0, '/+$', '') as path,
                -- array_to_string of an EMPTY list is NULL in DuckDB
                -- (Spark array_join gives '') — coalesce for parity
                coalesce(array_to_string(list_sort(list_filter(
                  string_split(q, '&'),
                  p -> p != '' and not regexp_matches(p,
                    '^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$'))), '&'), '')
                  as params
              from parts
            ), canon as (
              select doc_id,
                     'http://' || host || path
                     || case when params = '' then ''
                             else '?' || params end as canonical_url
              from norm
            )
            select canonical_url,
                   cast(min(doc_id) as bigint) as keep_id,
                   cast(count(*) as bigint) as dup_count
            from canon group by 1
        """)
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed exact dedup (new in r11): synthesize the classic crawl
    URL variants deterministically from doc ids (case noise, www,
    default ports, fragments, tracking params, unordered query params),
    canonicalize (functions/urls.py — pure JVM regexp/array exprs), and
    collapse to one row per canonical URL with keep-min + count. The
    step-zero dedup pass of RefinedWeb/CCNet-style pipelines; the
    oracle replays synthesis AND canonicalization in SQL."""
    from unstructured_spark.functions.urls import dedup_by_url

    docs = _t(spark, sf_dir, "documents")
    base = (F.col("doc_id") % 100).cast("string")
    v = F.col("doc_id") % 5
    url = (
        F.when(v == 0, F.concat(F.lit("http://Example.COM/page/"), base))
        .when(v == 1, F.concat(
            F.lit("http://www.example.com/page/"), base, F.lit("/")))
        .when(v == 2, F.concat(
            F.lit("https://example.com:443/page/"), base,
            F.lit("?utm_source=feed&id="),
            (F.col("doc_id") % 3).cast("string")))
        .when(v == 3, F.concat(
            F.lit("http://example.com:80/page/"), base,
            F.lit("#sec-"), F.col("doc_id").cast("string")))
        .otherwise(F.concat(
            F.lit("http://example.com/page/"), base,
            F.lit("?b=2&a=1&gclid=xyz")))
    )
    return dedup_by_url(docs.select("doc_id", url.alias("target_uri")))
