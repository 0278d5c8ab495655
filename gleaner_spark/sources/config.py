"""Source/crawl configuration (YAML → typed rows → small DataFrame).

Re-expresses /root/reference/internal/config/{gleanerConfig,sources,
summoner}.go: Viper YAML tree with struct-tag defaults becomes a
dataclass with field defaults; the source list becomes a small
DataFrame that is *broadcast* wherever per-row source attributes are
needed (SURVEY §2 S1-S5).
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields

try:
    import yaml
except ImportError:  # pragma: no cover
    yaml = None

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import local_frame

JSON_SHA = "jsonsha"


@dataclass
class Source:
    """internal/config/sources.go:52-76 (+ SourcesTemplate defaults)."""

    name: str
    url: str
    source_type: str = "sitemap"  # sitemap|sitegraph|csv|googledrive|api|robots
    logo: str = ""
    headless: bool = False
    pid: str = ""
    proper_name: str = ""
    domain: str = ""
    active: bool = True
    credentials_file: str = ""
    headless_wait: int = 0
    delay_ms: int = 0
    identifier_path: str = ""
    api_page_limit: int = 0
    identifier_type: str = JSON_SHA
    fix_context_option: str = "https"
    accept_content_type: str = "application/ld+json, text/html"
    json_profile: str = ""


@dataclass
class SummonerConfig:
    """internal/config/summoner.go:19-28 defaults."""

    threads: int = 5
    delay_ms: int = 0
    mode: str = "full"
    after: str = ""


@dataclass
class GleanerConfig:
    sources: list[Source] = field(default_factory=list)
    summoner: SummonerConfig = field(default_factory=SummonerConfig)
    bucket: str = "gleaner"
    rude: bool = False
    context_strict: bool = False
    # contextmaps: url prefix → parsed context document (the reference
    # maps prefix → FILE and loads lazily, ldproc.go:17-20,38-47; the
    # rebuild parses eagerly at config load so executors receive plain
    # dicts through the stage closure)
    context_maps: dict[str, dict] = field(default_factory=dict)


_YAML_KEYMAP = {
    "sourcetype": "source_type",
    "propername": "proper_name",
    "headlesswait": "headless_wait",
    "delay": "delay_ms",
    "identifierpath": "identifier_path",
    "identifiertype": "identifier_type",
    "fixcontextoption": "fix_context_option",
    "acceptcontenttype": "accept_content_type",
    "jsonprofile": "json_profile",
    "credentialsfile": "credentials_file",
    "apipagelimit": "api_page_limit",
}


def _coerce(src_fields: dict, raw: dict) -> dict:
    out = {}
    for k, v in raw.items():
        key = _YAML_KEYMAP.get(k.lower(), k.lower())
        if key in src_fields:
            f = src_fields[key]
            if v is None:
                continue
            if f.type in ("int", int):
                v = int(v)
            elif f.type in ("bool", bool) and isinstance(v, str):
                v = v.strip().lower() == "true"
            out[key] = v
    return out


def load_config(path: str) -> GleanerConfig:
    """ReadGleanerConfig equivalent (gleanerConfig.go:35-49)."""
    if yaml is None:
        raise RuntimeError("pyyaml unavailable")
    with open(path) as f:
        tree = yaml.safe_load(f) or {}
    src_fields = {f.name: f for f in fields(Source)}
    sources = [Source(**_coerce(src_fields, s)) for s in tree.get("sources", [])]
    summ = tree.get("summoner", {}) or {}
    # contextmaps: [{prefix:, file:}] — the reference resolves files
    # relative to the PROJECT root (ldproc.go:39-45, projectpath.Root);
    # without a Go module root, try the config file's directory and
    # each ancestor (covers both config-relative and root-relative
    # layouts, e.g. sampleConfigs/*.yml → ../../assets/*.jsonld). A
    # missing file is a hard error like the reference's "context file
    # location ... does not exist".
    import json as _json
    import os as _os

    def _resolve(fpath: str) -> str | None:
        if _os.path.isabs(fpath):
            return fpath if _os.path.exists(fpath) else None
        d = _os.path.dirname(_os.path.abspath(path))
        while True:
            cand = _os.path.join(d, fpath)
            if _os.path.exists(cand):
                return cand
            parent = _os.path.dirname(d)
            if parent == d:
                return None
            d = parent

    cmaps: dict[str, dict] = {}
    for m in tree.get("contextmaps", []) or []:
        prefix = str(m.get("prefix", "")).strip()
        fpath = str(m.get("file", "")).strip()
        if not prefix or not fpath:
            continue
        resolved = _resolve(fpath)
        if resolved is None:
            raise FileNotFoundError(
                f"context file location {fpath} does not exist"
            )
        with open(resolved) as cf:
            cmaps[prefix] = _json.load(cf)
    cfg = GleanerConfig(
        sources=sources,
        summoner=SummonerConfig(
            threads=int(summ.get("threads", 5)),
            delay_ms=int(summ.get("delay") or 0),
            mode=str(summ.get("mode", "full")),
            after=str(summ.get("after", "") or ""),
        ),
        bucket=str((tree.get("minio", {}) or {}).get("bucket", "gleaner")),
        rude=bool(tree.get("rude", False)),
        context_strict=str((tree.get("context", {}) or {}).get("strict", "")).lower()
        == "true",
        context_maps=cmaps,
    )
    return cfg


SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("source_type", T.StringType()),
        T.StructField("headless", T.BooleanType()),
        T.StructField("pid", T.StringType()),
        T.StructField("proper_name", T.StringType()),
        T.StructField("domain", T.StringType()),
        T.StructField("active", T.BooleanType()),
        T.StructField("headless_wait", T.IntegerType()),
        T.StructField("delay_ms", T.LongType()),
        T.StructField("identifier_path", T.StringType()),
        T.StructField("identifier_type", T.StringType()),
        T.StructField("fix_context_option", T.StringType()),
        T.StructField("accept_content_type", T.StringType()),
        T.StructField("json_profile", T.StringType()),
    ]
)


def sources_df(spark: SparkSession, sources: list[Source]) -> DataFrame:
    rows = [
        (
            s.name, s.url, s.source_type, s.headless, s.pid, s.proper_name,
            s.domain, s.active, s.headless_wait, s.delay_ms, s.identifier_path,
            s.identifier_type, s.fix_context_option, s.accept_content_type,
            s.json_profile,
        )
        for s in sources
    ]
    return local_frame(spark, rows, SOURCE_SCHEMA)


def filter_sources_by_type(df: DataFrame, requested_type: str) -> DataFrame:
    """FilterSourcesByType (sources.go:145-153): type match ∧ active."""
    from pyspark.sql import functions as F

    return df.filter((F.col("source_type") == requested_type) & F.col("active"))


def filter_sources_by_headless(df: DataFrame, headless: bool) -> DataFrame:
    """FilterSourcesByHeadless (sources.go:155-163)."""
    from pyspark.sql import functions as F

    return df.filter((F.col("headless") == headless) & F.col("active"))
