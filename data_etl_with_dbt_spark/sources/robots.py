"""Crawl-governance metadata: robots.txt evaluation and sitemap parsing —
the two site-side contracts a compliant crawl pipeline consumes before (or
while auditing) a fetch. Dependency-free: stdlib ``urllib.robotparser``
for the rule semantics (the reference implementation of the de-facto
robots standard) and ``xml.etree`` for sitemaps.

Why they belong in this engine even though fetching happens elsewhere:
training-data pipelines AUDIT compliance after the fact — given a crawl's
URL list and the robots.txt bodies the crawler archived, flag every
fetched URL the host had disallowed (takedown/compliance reports), and
given archived sitemap.xml payloads, extract the canonical URL + lastmod
seed list that recrawl scheduling joins against.

Scale posture mirrors sources/warc: robots bodies are KB-sized per host
(the rules relation is host-cardinality — broadcastable at any corpus
size), the URL side is corpus-sized and flows through ONE Arrow-batched
``mapInPandas`` stage whose per-batch parser cache is keyed by host, so
each host's rules parse once per batch, not once per URL. Sitemap blobs
explode file-parallel like WARC records. This module ships by VALUE to
executors (the repo's worker-closure convention).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _ship_by_value() -> None:
    import sys

    from pyspark.cloudpickle import register_pickle_by_value

    register_pickle_by_value(sys.modules[__name__])


# ---------------------------------------------------------------------------
# robots.txt
# ---------------------------------------------------------------------------


def _robot_parser(robots_txt: str):
    """Stdlib RobotFileParser over an in-memory body (no network)."""
    from urllib.robotparser import RobotFileParser

    rp = RobotFileParser()
    rp.parse((robots_txt or "").splitlines())
    return rp


def robots_allows(robots_txt: str | None, url: str, agent: str = "*") -> bool:
    """One-URL rule evaluation: a missing/empty robots.txt allows
    everything (the web convention — absence of rules is not a
    prohibition); otherwise stdlib ``can_fetch`` semantics (longest-match
    per the de-facto standard as Python implements it)."""
    if not robots_txt or not robots_txt.strip():
        return True
    return _robot_parser(robots_txt).can_fetch(agent, url)


ROBOTS_AUDIT_SCHEMA_TAIL = [T.StructField("robots_allowed", T.BooleanType())]


def audit_robots(
    urls: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    txt_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """Annotate every URL row with ``robots_allowed`` — the compliance
    audit relation: did the host's archived robots.txt permit this fetch?

    ``robots`` is ``(host, robots_txt)``, host-cardinality (KBs per row):
    it BROADCASTS onto the corpus-sized URL side, joined on the JVM-side
    lowercased host (``functions.web.url_host`` — no Python touches the
    join). URLs whose host has no archived robots.txt are allowed (the
    absence convention). The only Python stage is one Arrow-batched
    ``mapInPandas`` evaluating ``can_fetch`` with a per-batch parser
    cache keyed by host — rules parse once per (batch, host), never per
    URL."""
    import pandas as pd

    from data_etl_with_dbt_spark.functions.web import url_host

    _ship_by_value()

    joined = urls.withColumn("__host", url_host(F.col(url_col))).join(
        F.broadcast(
            robots.select(
                F.lower(F.col(host_col)).alias("__host"),
                F.col(txt_col).alias("__robots"),
            )
        ),
        "__host",
        "left",
    )
    out_schema = T.StructType(
        list(joined.schema) + ROBOTS_AUDIT_SCHEMA_TAIL
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsers: dict = {}  # per-batch: one parse per host
            allowed = []
            for host, txt, url in zip(
                pdf["__host"], pdf["__robots"], pdf[url_col]
            ):
                if txt is None or not str(txt).strip():
                    allowed.append(True)
                    continue
                rp = parsers.get(host)
                if rp is None:
                    rp = parsers[host] = _robot_parser(str(txt))
                allowed.append(bool(rp.can_fetch(agent, str(url))))
            pdf = pdf.copy()
            pdf["robots_allowed"] = allowed
            yield pdf

    return (
        joined.mapInPandas(run, out_schema)
        .drop("__host", "__robots")
    )


def filter_robots_allowed(
    urls: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    agent: str = "*",
    **kwargs,
) -> DataFrame:
    """Keep only URLs the archived robots.txt permits — the pre-ingest
    gate form of :func:`audit_robots` (same plan + one filter)."""
    return (
        audit_robots(urls, robots, url_col=url_col, agent=agent, **kwargs)
        .where(F.col("robots_allowed"))
        .drop("robots_allowed")
    )


def robots_from_warc(
    files: DataFrame, path_col: str = "path", content_col: str = "content"
) -> DataFrame:
    """Extract archived robots.txt bodies from a crawl's WARC files:
    2xx ``response`` records whose target path is ``/robots.txt`` land as
    ``(host, robots_txt)`` — the rules relation :func:`audit_robots`
    consumes, recovered from the same archive as the URLs it audits.

    Host semantics match the AUDIT side of the join exactly:
    ``urlsplit().hostname`` (lowercased, port and userinfo stripped) —
    the same value ``parse_url(..., 'HOST')`` produces in
    ``functions.web.url_host``. Keying by ``netloc`` would keep
    ``example.com:8080``, so a robots.txt captured from a non-default
    port would never join and its host's URLs would silently pass the
    compliance gate under the no-robots→allowed convention.

    Duplicate captures of one host keep the LAST under a TOTAL order with
    cross-file meaning — ``(warc-date, file path, record offset)`` desc —
    record offsets alone only order within one WARC file, so a host
    captured in two files would win arbitrarily (and flip between runs)."""
    from urllib.parse import urlsplit

    from data_etl_with_dbt_spark.sources import warc as W

    _ship_by_value()
    W._ship_by_value()  # the worker closure calls warc parsers by module
    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("host", T.StringType()),
            T.StructField("robots_txt", T.StringType()),
            T.StructField("__date", T.StringType()),
            T.StructField("__path", T.StringType()),
            T.StructField("__off", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hosts, texts, dates, paths, offs = [], [], [], [], []
            for path, content in zip(pdf[path_col], pdf[content_col]):
                for rec in W.parse_warc(bytes(content)):
                    if rec["headers"].get("warc-type") != "response":
                        continue
                    uri = rec["headers"].get("warc-target-uri") or ""
                    try:
                        parts = urlsplit(uri)
                        host = parts.hostname  # lowercased, no port/userinfo
                    except ValueError:
                        continue
                    if host is None or parts.path != "/robots.txt":
                        continue
                    http = W.parse_http_response(rec["block"])
                    status = http["status"]
                    if status is None or not (200 <= status <= 299):
                        continue
                    hosts.append(host)
                    texts.append(
                        W._decode_body(
                            http["body"],
                            http["headers"].get("content-type", ""),
                        )
                    )
                    # ISO-8601 WARC dates sort correctly as strings
                    dates.append(rec["headers"].get("warc-date") or "")
                    paths.append(str(path))
                    offs.append(rec["offset"])
            yield pd.DataFrame(
                {
                    "host": hosts,
                    "robots_txt": texts,
                    "__date": dates,
                    "__path": paths,
                    "__off": offs,
                }
            )

    raw = files.select(path_col, content_col).mapInPandas(run, schema)
    from pyspark.sql import Window

    # WARC 1.1 allows sub-second timestamps, and mixed-precision ISO
    # strings do NOT sort chronologically ('...00Z' string-sorts above
    # '...00.900Z' because 'Z' > '.') — compare as timestamps, with the
    # raw string as a tiebreak so unparseable dates still total-order.
    # Equal-INSTANT captures spelled at different precisions ('...00Z'
    # vs '...00.000Z') resolve by raw-string order (whole-second wins) —
    # an arbitrary but deterministic pick; only the total order matters.
    w = Window.partitionBy("host").orderBy(
        F.desc_nulls_last(F.to_timestamp("__date")),
        F.desc("__date"),
        F.desc("__path"),
        F.desc("__off"),
    )
    return (
        raw.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("host", "robots_txt")
    )


# ---------------------------------------------------------------------------
# sitemap.xml
# ---------------------------------------------------------------------------


def parse_sitemap(xml_bytes: bytes) -> list[dict]:
    """One sitemap document → entry dicts ``{"loc", "lastmod",
    "is_index"}``. Handles both document kinds of the sitemaps.org
    protocol: ``<urlset>`` (page entries) and ``<sitemapindex>`` (child
    sitemap entries, flagged ``is_index=True`` so a driver loop can
    resolve them from the archive). Namespace-tolerant (matches on the
    local tag name) and triage-tolerant: malformed XML yields []."""
    import xml.etree.ElementTree as ET

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1].lower()

    try:
        root = ET.fromstring(xml_bytes)
    except ET.ParseError:
        return []
    is_index = local(root.tag) == "sitemapindex"
    out = []
    for entry in root:
        if local(entry.tag) not in ("url", "sitemap"):
            continue
        loc, lastmod = None, None
        for child in entry:
            name = local(child.tag)
            if name == "loc":
                loc = (child.text or "").strip()
            elif name == "lastmod":
                lastmod = (child.text or "").strip()
        if loc:
            out.append({"loc": loc, "lastmod": lastmod, "is_index": is_index})
    return out


SITEMAP_SCHEMA = T.StructType(
    [
        T.StructField("sitemap_id", T.LongType()),
        T.StructField("loc", T.StringType()),
        T.StructField("lastmod", T.StringType()),
        T.StructField("is_index", T.BooleanType()),
    ]
)


def sitemap_entries(
    sitemaps: DataFrame, id_col: str = "sitemap_id", content_col: str = "content"
) -> DataFrame:
    """Explode sitemap blobs (one row per archived sitemap document) into
    the URL seed relation ``(sitemap_id, loc, lastmod, is_index)`` —
    file-parallel ``mapInPandas`` like the WARC record walk; recrawl
    scheduling joins ``lastmod`` against the crawl's ``fetched_at``."""
    import pandas as pd

    _ship_by_value()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in SITEMAP_SCHEMA}
            for sid, content in zip(pdf[id_col], pdf[content_col]):
                for e in parse_sitemap(bytes(content)):
                    out["sitemap_id"].append(sid)
                    out["loc"].append(e["loc"])
                    out["lastmod"].append(e["lastmod"])
                    out["is_index"].append(e["is_index"])
            yield pd.DataFrame(out)

    return sitemaps.select(id_col, content_col).mapInPandas(
        run, SITEMAP_SCHEMA
    )


# ---------------------------------------------------------------------------
# recrawl scheduling
# ---------------------------------------------------------------------------


def recrawl_schedule(
    seeds: DataFrame,
    snapshot: DataFrame,
    now: str,
    ttl_days: int = 30,
    loc_col: str = "loc",
    lastmod_col: str = "lastmod",
    url_col: str = "url",
    fetched_col: str = "fetched_at",
) -> DataFrame:
    """The daily crawl-scheduling relation: sitemap seeds
    (:func:`sitemap_entries` output — ``loc`` + publisher-declared
    ``lastmod``) full-outer-joined against the crawl's document snapshot
    (``warc_to_documents`` / a ``sources.versioned`` replica — ``url`` +
    ``fetched_at``), classified per URL:

    * ``never_fetched`` (priority 3) — seeded, absent from the snapshot
    * ``lastmod_newer`` (priority 2) — the publisher declared a change
      after our fetch
    * ``ttl_expired``   (priority 1) — no declared change, but the copy
      is older than ``ttl_days`` (unlisted snapshot URLs age out this
      way too — sitemaps are not exhaustive)
    * ``fresh``         (priority 0) — nothing to do

    ``staleness_seconds`` (whole seconds, integer arithmetic — no float
    rounding in the ranking) orders work WITHIN a class: time since the
    declared change for never_fetched/lastmod_newer, seconds past the
    TTL for ttl_expired. ``now`` is an explicit pinnable literal (the
    ``current_date`` convention — schedulers must be replayable).

    Both inputs are deduped first (max lastmod per loc, latest fetch per
    url): sitemaps repeat URLs across files and crawls re-fetch, and a
    keyed max is one map-side-combined agg. Pure Catalyst throughout; at
    100 TB both sides hash-shuffle once on the URL, and the seed side is
    usually small enough that Spark broadcasts it outright."""
    s = (
        seeds.select(
            F.col(loc_col).alias("url"),
            F.to_timestamp(F.col(lastmod_col)).alias("__lastmod"),
        )
        .groupBy("url")
        .agg(F.max("__lastmod").alias("__lastmod"))
        .withColumn("__seeded", F.lit(True))
    )
    c = (
        snapshot.select(
            F.col(url_col).alias("url"),
            F.col(fetched_col).cast("timestamp").alias("__fetched"),
        )
        .groupBy("url")
        .agg(F.max("__fetched").alias("__fetched"))
    )
    j = s.join(c, "url", "full_outer")
    now_ts = F.lit(now).cast("timestamp")
    ttl_us = F.lit(int(ttl_days) * 86400 * 1_000_000)
    age_us = F.unix_micros(now_ts) - F.unix_micros(F.col("__fetched"))
    never = F.col("__fetched").isNull()
    newer = F.col("__lastmod").isNotNull() & (
        F.col("__lastmod") > F.col("__fetched")
    )
    expired = age_us > ttl_us
    reason = (
        F.when(never, F.lit("never_fetched"))
        .when(newer, F.lit("lastmod_newer"))
        .when(expired, F.lit("ttl_expired"))
        .otherwise(F.lit("fresh"))
    )
    priority = (
        F.when(never, F.lit(3))
        .when(newer, F.lit(2))
        .when(expired, F.lit(1))
        .otherwise(F.lit(0))
    ).cast("int")
    # whole-second staleness, integer µs arithmetic end to end (DIV, not
    # float division — engines disagree on double->int narrowing)
    since_lastmod = F.expr(
        "greatest(unix_micros(__now) - unix_micros(__lastmod), 0L) DIV 1000000"
    )
    since_change = F.expr(
        "greatest(unix_micros(__lastmod) - unix_micros(__fetched), 0L) "
        "DIV 1000000"
    )
    past_ttl = F.expr(
        f"greatest(unix_micros(__now) - unix_micros(__fetched) "
        f"- {int(ttl_days) * 86400}000000L, 0L) DIV 1000000"
    )
    staleness = (
        F.when(never, F.coalesce(since_lastmod, F.lit(0)))
        .when(newer, since_change)
        .when(expired, past_ttl)
        .otherwise(F.lit(0))
    ).cast("bigint")
    return (
        j.withColumn("__now", now_ts)
        .select(
            "url",
            reason.alias("reason"),
            priority.alias("priority"),
            staleness.alias("staleness_seconds"),
        )
    )


def crawl_slots(
    schedule: DataFrame,
    per_host_delay_s: int = 5,
    url_col: str = "url",
    priority_col: str = "priority",
    staleness_col: str = "staleness_seconds",
    delays: DataFrame | None = None,
    delay_col: str = "crawl_delay_s",
) -> DataFrame:
    """Per-host politeness scheduling over a recrawl schedule
    (:func:`recrawl_schedule` output or any ``(url, priority,
    staleness)`` relation): within each host, URLs are ranked priority
    desc → staleness desc → url (a TOTAL order, so slot assignment is
    deterministic), and slot ``k`` fetches no earlier than
    ``(k-1) * per_host_delay_s`` seconds into the crawl — the crawl-rate
    contract every polite fetcher enforces per host.

    ``delays`` (optional) is a host-keyed relation of per-host intervals
    — :func:`robots_directives` output, so hosts honor their own declared
    ``Crawl-delay`` — broadcast onto the URL side; hosts without a row
    (or with a NULL delay) fall back to ``per_host_delay_s``.

    One window over the host partitioning — the same exchange a
    host-quota or host-stats pass would already pay; at 100 TB the
    skewed-host tail (one giant host) is inherent to the politeness
    contract itself (its slots MUST serialize), not a plan defect."""
    from pyspark.sql import Window

    from data_etl_with_dbt_spark.functions.web import url_host

    w = Window.partitionBy("host").orderBy(
        F.desc(priority_col), F.desc(staleness_col), F.col(url_col)
    )
    out = schedule.withColumn("host", url_host(F.col(url_col)))
    delay = F.lit(float(per_host_delay_s))
    if delays is not None:
        # defensively collapse to ONE row per host before the broadcast
        # join: a delays input with duplicate host rows (e.g. a rules
        # relation that skipped robots_from_warc's per-host dedup) would
        # fan out every URL row of that host and corrupt row_number slot
        # assignment. max() keeps the most conservative declared interval.
        out = out.join(
            F.broadcast(
                delays.groupBy(
                    F.lower(F.col("host")).alias("host")
                ).agg(F.max(delay_col).alias("__delay"))
            ),
            "host",
            "left",
        )
        delay = F.coalesce(F.col("__delay"), delay)
    return (
        out.withColumn("slot", F.row_number().over(w))
        .withColumn(
            "scheduled_offset_seconds",
            F.floor((F.col("slot") - F.lit(1)) * delay).cast("bigint"),
        )
        .drop("__delay")
    )


def fetch_plan(
    schedule: DataFrame,
    budget: int,
    per_host_quota: int,
    per_host_delay_s: int = 5,
    min_priority: int = 1,
    url_col: str = "url",
    priority_col: str = "priority",
    staleness_col: str = "staleness_seconds",
    delays: DataFrame | None = None,
    delay_col: str = "crawl_delay_s",
    two_phase_quota: bool | str = "auto",
    auto_row_floor: int = 100_000_000,
) -> DataFrame:
    """The day's fetch list — the relation a production crawler actually
    executes: :func:`recrawl_schedule` output (or any ``(url, priority,
    staleness)`` relation) reduced to at most ``budget`` URLs under
    per-host quotas, then politeness-slotted.

    Three stages, all under ONE deterministic total order (priority desc
    → staleness desc → url asc; url is unique in a schedule, so ties
    can't flip between runs or engines):

    1. candidates — rows with ``priority >= min_priority`` (the default 1
       drops ``fresh``: nothing to do);
    2. per-host quota — ``operators.relational.per_key_cap`` keeps each
       host's top ``per_host_quota`` rows (``quota_rank``), the C4-style
       guard against one mega-host eating the whole budget;
    3. global budget — priority-ordered truncation to ``budget`` rows,
       then :func:`crawl_slots` assigns per-host politeness offsets over
       the SURVIVORS (slots must not count URLs the budget dropped —
       the fetcher never sees them).

    Scale: stage 2's window shuffles once on host (the same exchange
    stage 3 reuses — slots add no new exchange after the limit's); the
    global sort in stage 3 ranks at most ``per_host_quota × n_hosts``
    rows — the quota bounds the sort input, so a billion-page schedule
    sorts its capped survivors, not itself. ``delays`` passes through to
    :func:`crawl_slots` so hosts honor their declared Crawl-delay.
    ``two_phase_quota=True`` opts stage 2 into per_key_cap's salted
    pre-cap for the mega-host case (window functions bypass AQE skew
    splitting, so one billion-page host would land on one reducer —
    the pre-cap sends at most quota × partitions rows per host into the
    final window instead; exact, costs one extra skew-free exchange).

    The DEFAULT ``two_phase_quota='auto'`` decides from measurement, the
    :func:`~data_etl_with_dbt_spark.operators.relational.advise_join`
    convention: probe the candidates' host skew
    (:func:`~data_etl_with_dbt_spark.operators.relational.skew_stats`,
    one map-side-combined pass over the host column) and take the salted
    pre-cap only when the heaviest host exceeds ``auto_row_floor`` ROWS
    (absolute, not share). The floor is deliberately high because the
    round-8 crossover probe found skew SHARE alone is the wrong trigger:
    with Spark 3.5+'s ``WindowGroupLimit`` the mega-host reducer is a
    bounded-heap linear scan, and on local[32] the plain window beat the
    pre-cap at EVERY probe-able skew (50% of 3M rows on one host: 3.01 s
    vs 3.41 s; 75% of 12M: 3.95 s vs 4.68 s — the extra skew-free
    exchange of the full relation costs more than the imbalanced scan).
    What the pre-cap actually fixes is single-reducer SHUFFLE-INGEST
    volume — one reducer receiving the mega-host's rows over the network
    while the rest of the cluster idles — a regime that starts around
    10^8 rows (~5-10 GB into one task) and that a single-JVM probe
    cannot reproduce. Both modes are result-identical (pinned in tests);
    pass ``True``/``False`` to pin the choice and skip the probe.

    Laziness: with ``'auto'``, a Catalyst plan-stats screen (driver-side,
    no Spark job) first bounds the candidate size — a relation whose
    sizeInBytes hint is under ``auto_row_floor/8`` bytes is trusted not
    to contain ``auto_row_floor`` rows (the 8× margin because file-
    relation hints are COMPRESSED on-disk sizes and dictionary/RLE can
    pack multiple repetitive rows per byte), so small inputs skip the
    probe and the call stays a pure plan builder. Only inputs that pass
    the screen run the eager one-pass ``skew_stats`` probe job at CALL
    time; per-batch loops that know their scale should pin
    ``True``/``False``."""
    from data_etl_with_dbt_spark.materialize import _estimated_bytes
    from data_etl_with_dbt_spark.operators.relational import (
        per_key_cap,
        skew_stats,
    )

    order = [
        F.desc(priority_col),
        F.desc(staleness_col),
        F.col(url_col).asc(),
    ]
    from data_etl_with_dbt_spark.functions.web import url_host

    cand = schedule.where(
        F.col(priority_col) >= F.lit(int(min_priority))
    ).withColumn("host", url_host(F.col(url_col)))
    if two_phase_quota == "auto":
        # Free (no Spark job) screen before the probe: Catalyst's plan
        # stats give a sizeInBytes hint. For FILE relations that hint is
        # the COMPRESSED on-disk size, and parquet dictionary/RLE coding
        # of highly repetitive data — exactly the single-heavy-host skew
        # regime the probe exists to detect — can pack several rows per
        # byte, so "1 byte >= 1 row" is NOT a sound bound (r9 ADVICE).
        # Skip the probe only with an 8x compression margin: a relation
        # must be under auto_row_floor/8 bytes on disk before we trust
        # that it cannot hold auto_row_floor rows. Small candidate sets
        # still skip entirely and fetch_plan stays a LAZY plan builder —
        # the daily-cycle per-batch case pays nothing at call time; only
        # plausibly-huge inputs run the one-pass skew_stats probe job
        # eagerly (documented above).
        _rows_per_byte_margin = 8
        size_hint = _estimated_bytes(cand)  # unknown → run the probe
        if (
            size_hint is not None
            and size_hint * _rows_per_byte_margin < int(auto_row_floor)
        ):
            two_phase = False
        else:
            top = skew_stats(cand, ["host"], top_k=1).collect()
            top_rows = int(top[0]["key_rows"]) if top else 0
            two_phase = top_rows >= int(auto_row_floor)
    else:
        two_phase = bool(two_phase_quota)
    capped = per_key_cap(
        cand,
        ["host"],
        order,
        int(per_host_quota),
        rank_col="quota_rank",
        two_phase=two_phase,
    )
    budgeted = capped.orderBy(*order).limit(int(budget)).drop("host")
    return crawl_slots(
        budgeted,
        per_host_delay_s=per_host_delay_s,
        url_col=url_col,
        priority_col=priority_col,
        staleness_col=staleness_col,
        delays=delays,
        delay_col=delay_col,
    )


ROBOTS_DIRECTIVES_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("crawl_delay_s", T.DoubleType()),
        T.StructField("sitemap_urls", T.ArrayType(T.StringType())),
    ]
)


def robots_directives(
    robots: DataFrame,
    host_col: str = "host",
    txt_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """Per-host scheduler directives from the rules relation:
    ``Crawl-delay`` (the per-host politeness interval — NULL when the
    host declares none) and ``Sitemap:`` URLs (the seed-discovery hook:
    these feed :func:`sitemap_entries`, whose lastmod seeds feed
    :func:`recrawl_schedule`). Stdlib parser semantics, one Arrow batch
    stage over the HOST-CARDINALITY rules relation — this never touches
    corpus-sized data."""
    import pandas as pd

    _ship_by_value()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hosts, delays, maps = [], [], []
            for host, txt in zip(pdf[host_col], pdf[txt_col]):
                rp = _robot_parser(str(txt or ""))
                d = rp.crawl_delay(agent)
                hosts.append(host)
                delays.append(float(d) if d is not None else None)
                maps.append(list(rp.site_maps() or []))
            yield pd.DataFrame(
                {"host": hosts, "crawl_delay_s": delays, "sitemap_urls": maps}
            )

    return robots.select(
        F.col(host_col).alias(host_col), F.col(txt_col).alias(txt_col)
    ).mapInPandas(run, ROBOTS_DIRECTIVES_SCHEMA)
