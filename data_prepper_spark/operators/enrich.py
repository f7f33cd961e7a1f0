"""Enrichment / redaction processors: obfuscate, user_agent, geo lookup.

Reference semantics (paths under /root/reference/data-prepper-plugins/):
- obfuscate: masks substrings matching ``patterns`` in ``source`` with a
  mask string (obfuscate-processor/.../ObfuscationProcessor.java:31,92;
  action/MaskAction.java:14 — default mask '***').
- user_agent: parses a UA string into {name, version, os, device,
  original} (user-agent-processor/.../UserAgentProcessor.java:29,43-55,
  backed by uap-java's regex database).
- geoip: enriches IP keys from a MaxMind database
  (geoip-processor/.../GeoIPProcessor.java:34,71-86).

Spark-first: obfuscate is chained ``regexp_replace`` (codegen, zero
Python). user_agent uses a compact built-in regex ruleset — the uap
database is a large regex list; we ship a deterministic subset covering
the major engines, applied entirely with ``regexp_extract`` (swap in the
full uap rules as a broadcast list + pandas UDF if full fidelity is
needed). geoip becomes a broadcast range join against a prefix table —
the mmdb's binary trie re-expressed relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_MASK = "***"


def obfuscate(
    df: DataFrame,
    source: str,
    patterns: list[str] | None = None,
    mask: str = DEFAULT_MASK,
    target: str | None = None,
    when: str | None = None,
) -> DataFrame:
    """Mask every match of each pattern in ``source``; in place unless
    ``target`` given. No patterns -> mask the entire value
    (ObfuscationProcessor.java:92)."""
    col = F.col(source)
    if patterns:
        for p in patterns:
            col = F.regexp_replace(col, p, mask)
    else:
        col = F.when(col.isNotNull(), F.lit(mask)).otherwise(col)
    out_key = target or source
    if when is not None:
        col = F.when(F.expr(when), col).otherwise(F.col(source))
    return df.withColumn(out_key, col)


# (family regex, browser label) — first match wins, like uap-core ordering
# (curated from the public uap-core pattern set: dual-identity browsers —
# Edge/Opera/Samsung/Yandex/UC/... all also advertise "Chrome/" — must
# precede Chrome, and Chrome precedes Safari's "Version/" rule)
_UA_BROWSERS = [
    (r"DuckDuckGo/(\d+[\.\d]*)", "DuckDuckGo Mobile"),
    (r"Whale/(\d+[\.\d]*)", "Whale"),
    (r"coc_coc_browser/(\d+[\.\d]*)", "Coc Coc"),
    (r"Silk/(\d+[\.\d]*)", "Amazon Silk"),
    (r"PaleMoon/(\d+[\.\d]*)", "Pale Moon"),
    (r"SeaMonkey/(\d+[\.\d]*)", "SeaMonkey"),
    (r"Konqueror/(\d+[\.\d]*)", "Konqueror"),
    (r"IEMobile/(\d+[\.\d]*)", "IE Mobile"),
    (r"GSA/(\d+[\.\d]*)", "Google"),
    (r"MiuiBrowser/(\d+[\.\d]*)", "MiuiBrowser"),
    (r"HuaweiBrowser/(\d+[\.\d]*)", "Huawei Browser"),
    (r"YaBrowser/(\d+[\.\d]*)", "Yandex Browser"),
    (r"Vivaldi/(\d+[\.\d]*)", "Vivaldi"),
    (r"Brave Chrome/(\d+[\.\d]*)", "Brave"),
    (r"UCBrowser/(\d+[\.\d]*)", "UC Browser"),
    (r"QQBrowser/(\d+[\.\d]*)", "QQ Browser"),
    (r"Opera Mini/(\d+[\.\d]*)", "Opera Mini"),
    (r"OPR/(\d+[\.\d]*)", "Opera"),
    (r"Opera[/ ](\d+[\.\d]*)", "Opera"),
    (r"SamsungBrowser/(\d+[\.\d]*)", "Samsung Internet"),
    (r"Edg(?:e|A|iOS)?/(\d+[\.\d]*)", "Edge"),
    (r"Electron/(\d+[\.\d]*)", "Electron"),
    (r"Firefox/(\d+[\.\d]*)", "Firefox"),
    (r"FxiOS/(\d+[\.\d]*)", "Firefox iOS"),
    (r"CriOS/(\d+[\.\d]*)", "Chrome Mobile iOS"),
    (r"HeadlessChrome/(\d+[\.\d]*)", "HeadlessChrome"),
    (r"Chrome/(\d+[\.\d]*)", "Chrome"),
    (r"Version/(\d+[\.\d]*).*Safari", "Safari"),
    (r"MSIE (\d+[\.\d]*)", "IE"),
    (r"Trident/.*rv:(\d+[\.\d]*)", "IE"),
    # bots / crawlers before generic clients
    (r"Googlebot/(\d+[\.\d]*)", "Googlebot"),
    (r"bingbot/(\d+[\.\d]*)", "BingBot"),
    (r"YandexBot/(\d+[\.\d]*)", "YandexBot"),
    (r"Slackbot(?:-LinkExpanding)? (\d+[\.\d]*)", "Slackbot"),
    (r"Discordbot/(\d+[\.\d]*)", "Discordbot"),
    (r"Twitterbot/(\d+[\.\d]*)", "Twitterbot"),
    (r"facebookexternalhit/(\d+[\.\d]*)", "FacebookBot"),
    (r"AhrefsBot/(\d+[\.\d]*)", "AhrefsBot"),
    (r"SemrushBot/(\d+[\.\d]*)", "SemrushBot"),
    (r"Applebot/(\d+[\.\d]*)", "Applebot"),
    (r"GPTBot/(\d+[\.\d]*)", "GPTBot"),
    (r"DotBot/(\d+[\.\d]*)", "DotBot"),
    (r"MJ12bot/v?(\d+[\.\d]*)", "MJ12bot"),
    (r"PetalBot", "PetalBot"),
    (r"Baiduspider(?:-render)?/(\d+[\.\d]*)", "Baiduspider"),
    (r"DuckDuckBot/(\d+[\.\d]*)", "DuckDuckBot"),
    (r"LinkedInBot/(\d+[\.\d]*)", "LinkedInBot"),
    # programmatic http clients
    (r"curl/(\d+[\.\d]*)", "curl"),
    (r"[Ww]get/(\d+[\.\d]*)", "Wget"),
    (r"python-requests/(\d+[\.\d]*)", "Python Requests"),
    (r"Python-urllib/(\d+[\.\d]*)", "Python-urllib"),
    (r"aiohttp/(\d+[\.\d]*)", "aiohttp"),
    (r"okhttp/(\d+[\.\d]*)", "okhttp"),
    (r"Go-http-client/(\d+[\.\d]*)", "Go-http-client"),
    (r"Apache-HttpClient/(\d+[\.\d]*)", "Apache-HttpClient"),
    (r"Java/(\d+[\.\d_]*)", "Java"),
    (r"axios/(\d+[\.\d]*)", "axios"),
    (r"node-fetch/(\d+[\.\d]*)", "node-fetch"),
    (r"PostmanRuntime/(\d+[\.\d]*)", "PostmanRuntime"),
    (r"insomnia/(\d+[\.\d]*)", "Insomnia"),
]
# (family regex, label, version-capture regex or None)
_UA_OS = [
    (r"Windows Phone", "Windows Phone", r"Windows Phone (?:OS )?(\d+[\.\d]*)"),
    (r"Windows NT [\d\.]+", "Windows", r"Windows NT (\d+\.\d+)"),
    (r"CrOS", "Chrome OS", r"CrOS \S+ (\d+[\.\d]*)"),
    # KaiOS/Tizen before Android: their UAs carry an "Android" token too
    (r"KAIOS/[\d\.]+", "KaiOS", r"KAIOS/(\d+[\.\d]*)"),
    (r"Tizen", "Tizen", r"Tizen[ /](\d+[\.\d]*)"),
    (r"Android", "Android", r"Android (\d+[\.\d]*)"),
    # iOS before Mac OS X: iPhone/iPad UAs end with "... like Mac OS X"
    (r"iPhone OS|iPad; CPU OS|iOS", "iOS", r"(?:iPhone )?OS (\d+[_\.\d]*)"),
    (r"Mac OS X", "Mac OS X", r"Mac OS X (\d+[_\.\d]*)"),
    (r"FreeBSD", "FreeBSD", None),
    (r"OpenBSD", "OpenBSD", None),
    (r"NetBSD", "NetBSD", None),
    (r"Ubuntu", "Ubuntu", None),
    (r"Fedora", "Fedora", None),
    (r"Debian", "Debian", None),
    (r"Linux", "Linux", None),
]
# NT kernel version -> marketing name version (uap-core's replacement map)
_WINDOWS_NT = {
    "10.0": "10", "6.3": "8.1", "6.2": "8", "6.1": "7",
    "6.0": "Vista", "5.2": "XP", "5.1": "XP",
}


def load_uap_rules(path: str) -> dict:
    """Parse a uap-core-format ``regexes.yaml`` (the public ua-parser
    database schema: user_agent_parsers / os_parsers / device_parsers
    with $N-substituted *_replacement fields) into plain rule tuples —
    picklable, so they ship to executors in the UDF closure. Vendor the
    real uap-core file and pass its path to ``user_agent`` for full
    database fidelity (VERDICT r4 next #4; the file itself is
    network-unreachable in this sandbox, so the loader is exercised
    against a fixture subset in tests)."""
    import yaml

    with open(path) as f:
        doc = yaml.safe_load(f)
    ua = [
        (r["regex"], r.get("family_replacement"), r.get("v1_replacement"),
         r.get("v2_replacement"), r.get("v3_replacement"))
        for r in doc.get("user_agent_parsers", [])
    ]
    os_ = [
        (r["regex"], r.get("os_replacement"), r.get("os_v1_replacement"),
         r.get("os_v2_replacement"), r.get("os_v3_replacement"))
        for r in doc.get("os_parsers", [])
    ]
    dev = [
        (r["regex"], r.get("regex_flag"), r.get("device_replacement"))
        for r in doc.get("device_parsers", [])
    ]
    return {"ua": ua, "os": os_, "device": dev}


def _uap_subst(tmpl: str | None, m, default_group: int):
    """uap-core replacement semantics: template with $1..$9 substituted
    from the match; no template -> the default capture group (or '')."""
    if tmpl is None:
        try:
            g = m.group(default_group)
        except Exception:
            return ""
        return g or ""
    out = tmpl
    for i in range(9, 0, -1):
        if f"${i}" in out:
            try:
                g = m.group(i) or ""
            except Exception:
                g = ""
            out = out.replace(f"${i}", g)
    return out.strip()


def user_agent_uap(
    df: DataFrame,
    source: str,
    regexes_yaml: str,
    target: str = "user_agent",
    when: str | None = None,
) -> DataFrame:
    """Full-database user_agent parse driven by a uap-core
    ``regexes.yaml`` (first-matching-rule-wins, exactly uap-java's
    evaluation order — the engine the reference wraps,
    UserAgentProcessor.java:29). Arrow-batched ``mapInPandas``: the rule
    list rides the closure, compiled once per executor; per row the scan
    stops at the first hit per section, like uap-java. The curated
    Catalyst chain (``user_agent``) stays the jar-free fast path."""
    import re

    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    rules = load_uap_rules(regexes_yaml)
    parsed_field = StructField(
        target,
        StructType([StructField(c, StringType(), True) for c in
                    ("name", "version", "os", "os_version", "device", "original")]),
        True,
    )
    # an existing ``target`` is replaced in place, like withColumn on the
    # curated path, so a re-run never yields two columns of one name
    fields = [parsed_field if f.name == target else f for f in df.schema.fields]
    if target not in df.columns:
        fields.append(parsed_field)
    out_schema = StructType(fields)
    cols = out_schema.fieldNames()

    def gen(batches):
        ua_rules = [
            (re.compile(rx), fam, v1, v2, v3) for rx, fam, v1, v2, v3 in rules["ua"]
        ]
        os_rules = [
            (re.compile(rx), osr, v1, v2, v3) for rx, osr, v1, v2, v3 in rules["os"]
        ]
        dev_rules = [
            (re.compile(rx, re.IGNORECASE if flag == "i" else 0), rep)
            for rx, flag, rep in rules["device"]
        ]

        def parse_one(s):
            if s is None:
                return (None, None, None, None, None, None)
            name, version = "Other", ""
            for crx, fam, v1, v2, v3 in ua_rules:
                m = crx.search(s)
                if m:
                    name = _uap_subst(fam, m, 1) or "Other"
                    parts = []
                    for i, rep in enumerate((v1, v2, v3), start=2):
                        p = _uap_subst(rep, m, i)
                        if not p:
                            break
                        parts.append(p)
                    version = ".".join(parts)
                    break
            osn, osv = "Other", ""
            for crx, osr, v1, v2, v3 in os_rules:
                m = crx.search(s)
                if m:
                    osn = _uap_subst(osr, m, 1) or "Other"
                    parts = []
                    for i, rep in enumerate((v1, v2, v3), start=2):
                        p = _uap_subst(rep, m, i)
                        if not p:
                            break
                        parts.append(p)
                    osv = ".".join(parts)
                    break
            dev = "Other"
            for crx, rep in dev_rules:
                m = crx.search(s)
                if m:
                    dev = _uap_subst(rep, m, 1) or "Other"
                    break
            return (name, version, osn, osv, dev, s)

        for pdf in batches:
            parsed = [parse_one(s) for s in pdf[source]]
            pdf[target] = pd.Series(parsed, index=pdf.index, dtype="object")
            yield pdf[cols]

    out = df.mapInPandas(gen, out_schema)
    if when is not None:
        out = out.withColumn(
            target, F.when(F.expr(when), F.col(target))
        )
    return out


def user_agent(
    df: DataFrame,
    source: str,
    target: str = "user_agent",
    when: str | None = None,
    regexes_yaml: str | None = None,
) -> DataFrame:
    """Parse ``source`` UA string into a struct(name, version, os,
    os_version, device, original) column ``target`` — pure regexp_extract
    chain (UserAgentProcessor.java:55,88-91; ruleset curated from the
    public uap-core pattern set: browsers incl. dual-identity
    Chrome-derivatives, crawlers, programmatic HTTP clients; OS families
    with version extraction incl. the NT-kernel -> marketing-name map;
    device families with brand detection). Pass ``regexes_yaml`` (a
    vendored uap-core regexes.yaml) to switch to the full-database
    ``user_agent_uap`` path; without it, rules beyond the curated set
    fall back to "Other"."""
    if regexes_yaml is not None:
        return user_agent_uap(df, source, regexes_yaml, target=target, when=when)
    ua = F.col(source)
    name = F.lit("Other")
    version = F.lit("")
    for pat, label in reversed(_UA_BROWSERS):
        hit = ua.rlike(pat)
        name = F.when(hit, F.lit(label)).otherwise(name)
        version = F.when(hit, F.regexp_extract(ua, pat, 1)).otherwise(version)
    os_ = F.lit("Other")
    osv = F.lit("")
    for pat, label, vpat in reversed(_UA_OS):
        hit = ua.rlike(pat)
        os_ = F.when(hit, F.lit(label)).otherwise(os_)
        if vpat is None:
            v = F.lit("")
        else:
            v = F.regexp_replace(F.regexp_extract(ua, vpat, 1), "_", ".")
            if label == "Windows":
                nt = F.regexp_extract(ua, vpat, 1)
                v = F.coalesce(
                    *[F.when(nt == k, F.lit(m)) for k, m in _WINDOWS_NT.items()], nt
                )
        osv = F.when(hit, v).otherwise(osv)
    device = (
        F.when(ua.rlike(r"iPhone"), F.lit("iPhone"))
        .when(ua.rlike(r"iPad"), F.lit("iPad"))
        .when(ua.rlike(r"SM-[A-Z0-9]+"), F.lit("Samsung"))
        .when(ua.rlike(r"Pixel \d"), F.lit("Pixel"))
        .when(ua.rlike(r"HUAWEI|HONOR"), F.lit("Huawei"))
        .when(ua.rlike(r"Xiaomi|Redmi|MI \d"), F.lit("Xiaomi"))
        .when(ua.rlike(r"OnePlus"), F.lit("OnePlus"))
        .when(ua.rlike(r"Kindle|KF[A-Z]{2,}"), F.lit("Kindle"))
        .when(ua.rlike(r"PlayStation"), F.lit("PlayStation"))
        .when(ua.rlike(r"Xbox"), F.lit("Xbox"))
        .when(ua.rlike(r"Nintendo"), F.lit("Nintendo"))
        .when(ua.rlike(r"SmartTV|SMART-TV|BRAVIA|AppleTV"), F.lit("Smart TV"))
        .when(ua.rlike(r"Android"), F.lit("Android"))
        .when(
            ua.rlike(r"bot|Bot|crawler|spider|facebookexternalhit"), F.lit("Spider")
        )
        .otherwise(F.lit("Other"))
    )
    st = F.struct(
        name.alias("name"),
        version.alias("version"),
        os_.alias("os"),
        osv.alias("os_version"),
        device.alias("device"),
        ua.alias("original"),
    )
    if when is not None:
        st = F.when(F.expr(when), st)
    return df.withColumn(target, st)


def geo_enrich(
    df: DataFrame,
    ip_col: str,
    geo: DataFrame,
    target_fields: list[str] | None = None,
    bucketed: bool = True,
) -> DataFrame:
    """Broadcast prefix-range lookup: ``geo`` has (net_lo long, net_hi
    long, ...attrs) rows over the integer IPv4 space; each event joins the
    range containing its address.

    ``bucketed`` (default): each geo range is exploded to the /16 prefixes
    it covers and the join becomes a BroadcastHASHJoin on the prefix with
    the range check as a residual filter — per-row probe cost is the
    handful of ranges sharing that /16. Without bucketing, a pure range
    predicate plans as BroadcastNestedLoopJoin: fine for a ~400-row country
    table, quadratic pain at MaxMind-city scale (~4M ranges x every event).
    A /8-spanning range explodes to 256 bucket rows — broadcast size grows
    by the bucket fanout, still tiny next to the NLJ it avoids.
    """
    ip = F.col(ip_col)
    parts = F.split(ip, r"\.")
    as_long = (
        parts.getItem(0).cast("long") * 16777216
        + parts.getItem(1).cast("long") * 65536
        + parts.getItem(2).cast("long") * 256
        + parts.getItem(3).cast("long")
    )
    enriched = df.withColumn("__ip_num", as_long)
    keep = target_fields or [c for c in geo.columns if c not in ("net_lo", "net_hi")]
    if bucketed:
        gb = geo.withColumn(
            "__geo_bucket",
            F.explode(F.sequence(F.shiftright("net_lo", 16), F.shiftright("net_hi", 16))),
        )
        enriched = enriched.withColumn("__ip_bucket", F.shiftright("__ip_num", 16))
        cond = (
            (enriched["__ip_bucket"] == gb["__geo_bucket"])
            & (enriched["__ip_num"] >= gb["net_lo"])
            & (enriched["__ip_num"] <= gb["net_hi"])
        )
        out = enriched.join(F.broadcast(gb), cond, "left")
    else:
        cond = (F.col("__ip_num") >= geo["net_lo"]) & (F.col("__ip_num") <= geo["net_hi"])
        out = enriched.join(F.broadcast(geo), cond, "left")
    return out.select(*df.columns, *keep)


_MMDB_READERS: dict[str, object] = {}


def geo_enrich_mmdb(
    df: DataFrame,
    ip_col: str,
    mmdb_path: str,
    fields: dict[str, str],
) -> DataFrame:
    """GeoIP enrichment straight from a MaxMind ``.mmdb`` file (reference:
    geoip-processor/.../GeoIPProcessor.java) — the big-database
    alternative to the broadcast range-table path (geo_enrich): the file
    is opened ONCE PER EXECUTOR (module-level cache keyed by path; each
    worker re-imports this module) and every Arrow batch's addresses walk
    the binary search tree together in numpy (operators/mmdb.py), so the
    per-row cost is a vectorized bit-step, not a Python loop. At
    MaxMind-city scale (~4M ranges) this avoids both the broadcast size
    and the bucket-explode fanout of the range-table plan.

    ``fields`` maps output column -> dotted path into the mmdb record,
    e.g. {"country": "country.iso_code", "city": "city.names.en"}.
    Values land as strings (null on miss)."""
    import pandas as pd

    out_fields = list(fields.items())
    schema = df.schema
    from pyspark.sql.types import StringType, StructField, StructType

    out_schema = StructType(
        list(schema.fields) + [StructField(c, StringType(), True) for c, _ in out_fields]
    )

    def dig(rec, path):
        cur = rec
        for part in path.split("."):
            if not isinstance(cur, dict) or part not in cur:
                return None
            cur = cur[part]
        return None if cur is None else str(cur)

    def gen(batches):
        from .mmdb import MMDBReader

        reader = _MMDB_READERS.get(mmdb_path)
        if reader is None:
            reader = _MMDB_READERS[mmdb_path] = MMDBReader(mmdb_path)
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                for c, _ in out_fields:
                    pdf[c] = pd.Series(dtype="object")
                yield pdf
                continue
            # Null / malformed / IPv6 values must degrade to null
            # enrichment (like the range-table twin's cast-to-null left
            # join and the reference's per-event tagging of lookup
            # failures), not crash the job: mask down to valid dotted
            # quads first, look up only those.
            s = pdf[ip_col].astype("object").astype("string")
            valid = s.str.fullmatch(r"\d{1,3}(\.\d{1,3}){3}").fillna(False)
            if valid.any():
                parts = s[valid].str.split(".", expand=True).astype("int64")
                octs = [parts[i].to_numpy() for i in range(4)]
                in_range = (
                    (octs[0] <= 255) & (octs[1] <= 255)
                    & (octs[2] <= 255) & (octs[3] <= 255)
                )
                ips = (
                    octs[0] * 16777216 + octs[1] * 65536
                    + octs[2] * 256 + octs[3]
                )[in_range]
                hits = reader.lookup_batch(ips) if len(ips) else []
                idx = parts.index.to_numpy()[in_range]
            else:
                hits, idx = [], np.array([], dtype="int64")
            recs = pd.Series([None] * len(pdf), index=pdf.index, dtype="object")
            if len(idx):
                recs.loc[idx] = pd.Series(list(hits), index=idx, dtype="object")
            for c, path in out_fields:
                pdf[c] = [dig(r, path) if r is not None else None for r in recs]
            yield pdf

    return df.mapInPandas(gen, out_schema)
