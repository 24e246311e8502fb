"""YAML pipeline → frozen CrawlConfig.

Accepts the same YAML shape memorious crawls are written in
(memorious/logic/crawler.py:31-57 reads name/delay/expire/init;
memorious/logic/stage.py:8-18 reads method/params/handle per stage;
canonical example memorious/tests/testdata/config/simple_web_scraper.yml)
but compiles it ONCE, driver-side, failing fast on unknown stages or
ambiguous rules — the reference late-binds methods per task
(stage.py:20-31); we validate at load time (SURVEY.md §3.2).

Only the corpus-model subset is compiled: seed/sequence/dates/
enumerate initializers (with ``tee`` fan-out and %-templated seed
urls, memorious/operations/initializers.py:5-18), fetch (rules,
retries), parse (store rules, meta, schema+properties,
include_paths), clean_html, store. Live-web operators (session auth,
aleph upload, FTP/WebDAV) have no meaning against a page-corpus table
and are rejected with a clear error.

Every method this loader accepts is WIRED: generator init stages
compile to an initial-frontier spec the runner materializes
(operators/initializers.compile_initial_frontier), ``tee`` fan-out
resolves to the union of its seed branches in handler order, and a
``clean_html`` stage runs as the store-path transform (re-serialized
DOM, re-hashed — operations/clean.py:11-26). Anything the runner
would not execute raises here, at load time.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import yaml

from memorious_spark.operators.parse import ParseConfig
from memorious_spark.plans.rules import RuleError, compile_py, compile_rule

__all__ = ["CrawlConfig", "load_yaml", "load_config"]

_SUPPORTED_METHODS = {
    "seed", "sequence", "dates", "enumerate", "tee",
    "fetch", "parse", "extract", "clean_html", "directory", "db",
    "inspect",
}

# crawl options this engine no longer has. Ignoring one would change
# what a crawl fetches (robots gating, a page bound, the frontier
# order), so a config that still sets one fails at load instead.
_REMOVED_TOP_LEVEL = ("robots", "robots_sitemaps", "max_pages")
_REMOVED_FETCH_PARAMS = (
    "prioritize", "rank_iters", "traps", "canonicalize", "error_backoff",
)


def _reject_removed(spec: dict, keys: tuple[str, ...], where: str) -> None:
    for key in keys:
        if key in spec:
            raise ValueError(f"{where}{key!r} is no longer supported")


@dataclass(frozen=True)
class CrawlConfig:
    name: str
    seeds: tuple[str, ...]
    fetch_rules: dict | None = None
    store_rules: dict | None = None
    parse: ParseConfig = field(default_factory=ParseConfig)
    budget_per_host: int = 1_000_000_000  # "unlimited" unless configured
    retries: int = 3
    # emit non-ok (status ≥ 400) responses downstream — the reference's
    # fetch param of the same name (memorious/operations/fetch.py:25)
    emit_errors: bool = False
    max_rounds: int = 25
    max_depth: int | None = None
    expire_days: int | None = None
    # incremental re-run mode: probe the crawler-scoped http_cache
    # (304 replay of unchanged pages) and skip re-storing content that
    # already carries an inc tag — memorious's INCREMENTAL setting
    # (memorious/settings.py:26, logic/context.py:127-148)
    incremental: bool = False
    # store-stage sink: the method/params of the stage the parse
    # stage's ``handle: {store: …}`` points at — "directory"
    # (operations/store.py:42-70) or "db" (operations/db.py:57-62);
    # None keeps the engine's relational parquet rounds only
    store_method: str | None = None
    store_params: dict | None = None
    # post-run aggregator hook (memorious/logic/crawler.py:66-87,
    # fired when the job drains, worker.py:22-27)
    aggregator: dict | None = None
    # `extract` stage configured (operations/extract.py:69-97): archive
    # responses additionally unpack into the run's `members` table
    extract_enabled: bool = False
    extract_wildcard: str | None = None
    # `inspect` debug stage (operations/debug.py:4-6): per-round sample
    # logging in the runner
    inspect_enabled: bool = False
    # DEBUG emit sampling (memorious/logic/context.py:56-61)
    sampling_rate: float | None = None
    # politeness budget grouping: "host" (the reference's rate-limit
    # resource, logic/http.py:210-211) or "domain" — registrable
    # domain via functions/urls.py PSL-lite, so subdomain farms share
    # one budget instead of multiplying it (no reference analogue)
    politeness_group: str = "host"
    # generator init stage (initializers.py:21-109): method + params of
    # a sequence/dates/enumerate init, and the %-templated seed urls
    # its items format into (flattened over tee branches in handler
    # order — the reference's per-item FIFO emit order). The runner
    # materializes these into the round-0 frontier via
    # ``compile_initial_frontier``; ``init_method == "seed"``/"tee"
    # compile straight into ``seeds``.
    init_method: str = "seed"
    init_params: dict | None = None
    seed_templates: tuple[str, ...] = ()
    # clean_html stage (operations/clean.py:11-26): drop these DOM
    # subtrees from stored documents and re-hash. Applies on the store
    # path — links/meta still come from the original DOM, exactly the
    # fetch → parse → clean → store pipeline shape.
    clean_html_paths: tuple[str, ...] | None = None

    # fetch and store rules both judge the fetched response, so they
    # see the post-redirect url (memorious operations/fetch.py:17-20,
    # operations/parse.py:105-119)
    def fetch_rule_col(self):
        return compile_rule(self.fetch_rules, url="final_url")

    def store_rule_col(self):
        return compile_rule(self.store_rules, url="final_url")

    def fetch_rule_py(self):
        return compile_py(self.fetch_rules)

    def store_rule_py(self):
        return compile_py(self.store_rules)


def load_yaml(text: str) -> CrawlConfig:
    return load_config(yaml.safe_load(text))


def load_config(spec: dict) -> CrawlConfig:
    name = spec.get("name")
    if not name or not all(c.isalnum() or c in "_-" for c in name):
        raise ValueError(f"invalid crawler name: {name!r}")
    _reject_removed(spec, _REMOVED_TOP_LEVEL, "crawler option ")
    stages = spec.get("pipeline", {})
    init_name = spec.get("init", "init")
    if init_name not in stages:
        raise ValueError(f"init stage {init_name!r} not in pipeline")
    # validate handle targets + methods
    for sname, stage in stages.items():
        method = stage.get("method")
        if method not in _SUPPORTED_METHODS:
            raise ValueError(f"stage {sname!r}: unsupported method {method!r}")
        for target in (stage.get("handle") or {}).values():
            if target not in stages:
                raise ValueError(f"stage {sname!r} handles unknown stage {target!r}")

    # ---- init chain: generator / tee / seed resolution ---------------
    # The init stage's method decides the round-0 frontier source; tee
    # fan-out walks handlers in declaration order (the reference emits
    # per item per handler, initializers.py:29-32), and seed stages
    # contribute their url (templates) in list order — so the flattened
    # template list reproduces the sequential FIFO emit order exactly.
    _TMPL_TOKEN = "%("
    init_chain: set[str] = {init_name}

    def _seed_urls(stage: dict) -> list[str]:
        params = stage.get("params") or {}
        urls = params.get("urls") or params.get("url") or []
        return [urls] if isinstance(urls, str) else list(urls)

    def _resolve_branches(sname: str, depth: int = 0) -> list[str]:
        if depth > 10:
            raise ValueError("init handle chain too deep (tee cycle?)")
        stage = stages[sname]
        method = stage.get("method")
        init_chain.add(sname)
        if method == "tee":
            out: list[str] = []
            for target in (stage.get("handle") or {}).values():
                out.extend(_resolve_branches(target, depth + 1))
            return out
        if method == "seed":
            return _seed_urls(stage)
        raise ValueError(
            f"init chain reaches stage {sname!r} (method {method!r}) — "
            "generator/tee init stages must feed seed stages"
        )

    init_stage = stages[init_name]
    init_method = init_stage.get("method")
    init_params: dict | None = None
    seed_templates: tuple[str, ...] = ()
    if init_method == "seed":
        seeds = tuple(_seed_urls(init_stage))
    elif init_method == "tee":
        seeds = tuple(_resolve_branches(init_name))
    elif init_method in ("sequence", "dates", "enumerate"):
        templates: list[str] = []
        for target in (init_stage.get("handle") or {}).values():
            templates.extend(_resolve_branches(target))
        if not templates:
            raise ValueError(
                f"init generator {init_method!r} feeds no seed stage — "
                "its items would crawl nothing"
            )
        seed_templates = tuple(templates)
        seeds = ()
        init_params = dict(init_stage.get("params") or {})
        if init_method == "sequence" and init_params.get("stop") is None:
            raise ValueError("sequence init requires 'stop' in batch mode")
        if init_method == "dates" and "end" not in init_params:
            raise ValueError(
                "dates init requires an explicit 'end' (the reference "
                "defaults to utcnow — nondeterministic; declare it)"
            )
    else:
        raise ValueError(
            f"init stage {init_name!r} method {init_method!r} is not an "
            "initializer (seed/sequence/dates/enumerate/tee)"
        )
    if init_method in ("seed", "tee"):
        bad = [u for u in seeds if _TMPL_TOKEN in u]
        if bad:
            raise ValueError(
                f"seed url templates {bad} reference generated fields but "
                "the init chain has no generator stage"
            )
    # generator/tee/seed stages anywhere OUTSIDE the init chain would
    # silently never run in the compiled plan → reject at load
    for sname, stage in stages.items():
        if (
            stage.get("method") in ("seed", "sequence", "dates", "enumerate", "tee")
            and sname not in init_chain
        ):
            raise ValueError(
                f"stage {sname!r} ({stage.get('method')!r}) is outside the "
                "init chain — the compiled plan would never execute it"
            )

    fetch_rules = store_rules = None
    parse_cfg = ParseConfig()
    retries = 3
    emit_errors = False
    budget = 1_000_000_000
    store_stage_name = None
    store_method = store_params = None
    extract_enabled, extract_wildcard = False, None
    inspect_enabled = False
    clean_paths: tuple[str, ...] | None = None
    politeness_group = "host"
    for stage in stages.values():
        method = stage.get("method")
        params = stage.get("params") or {}
        if method == "fetch":
            _reject_removed(params, _REMOVED_FETCH_PARAMS, "fetch param ")
            fetch_rules = params.get("rules")
            retries = int(params.get("retry", 3))
            emit_errors = bool(params.get("emit_errors", False))
            if "rate_limit" in params:
                budget = int(params["rate_limit"])
            politeness_group = params.get("politeness_group", "host")
            if politeness_group not in ("host", "domain"):
                raise ValueError(
                    "fetch politeness_group: unknown grouping "
                    f"{politeness_group!r} (supported: host, domain)"
                )
        elif method == "extract":
            extract_enabled = True
            extract_wildcard = params.get("wildcard")
        elif method == "inspect":
            inspect_enabled = True
        elif method == "clean_html":
            rp = params.get("remove_paths") or []
            clean_paths = tuple([rp] if isinstance(rp, str) else rp)
        elif method == "parse":
            store_rules = params.get("store")
            store_stage_name = (stage.get("handle") or {}).get("store")
            meta = {
                k: (v if isinstance(v, list) else [v])
                for k, v in (params.get("meta") or {}).items()
            }
            meta_dates = []
            for k, v in (params.get("meta_date") or {}).items():
                meta.setdefault(k, v if isinstance(v, list) else [v])
                meta_dates.append(k)
            parse_cfg = ParseConfig(
                meta=meta,
                meta_dates=tuple(meta_dates),
                properties=dict(params.get("properties") or {}),
                include_paths=(
                    tuple(params["include_paths"])
                    if params.get("include_paths")
                    else None
                ),
                schema=params.get("schema"),
                sitemaps=bool(params.get("sitemaps", False)),
            )
    # the parse stage's `store` handler names the sink stage; its
    # method+params drive the engine's store step (the reference
    # late-binds this per task, stage.py:20-31; we resolve at load).
    # A clean_html stage may sit between parse and the sink (the
    # canonical fetch → parse → clean → store shape) — follow through.
    if store_stage_name is not None:
        sink_name = store_stage_name
        hops = 0
        while (
            sink_name is not None
            and stages[sink_name].get("method") == "clean_html"
        ):
            sink_name = next(
                iter((stages[sink_name].get("handle") or {}).values()), None
            )
            hops += 1
            if hops > 10:
                raise ValueError("clean_html handle chain too deep (cycle?)")
        if sink_name is not None:
            sink = stages[sink_name]
            if sink.get("method") in ("directory", "db"):
                store_method = sink["method"]
                store_params = dict(sink.get("params") or {})
    # fail fast on bad rule specs (reference raises per-task; we at load)
    for rules in (fetch_rules, store_rules):
        try:
            compile_py(rules)
        except RuleError:
            raise
    return CrawlConfig(
        name=name,
        seeds=seeds,
        fetch_rules=fetch_rules,
        store_rules=store_rules,
        parse=parse_cfg,
        retries=retries,
        emit_errors=emit_errors,
        budget_per_host=budget,
        max_rounds=int(spec.get("max_rounds", 25)),
        max_depth=spec.get("max_depth"),
        expire_days=spec.get("expire"),
        incremental=bool(spec.get("incremental", False)),
        store_method=store_method,
        store_params=store_params,
        aggregator=spec.get("aggregator"),
        sampling_rate=spec.get("sampling_rate"),
        extract_enabled=extract_enabled,
        extract_wildcard=extract_wildcard,
        inspect_enabled=inspect_enabled,
        init_method=init_method,
        init_params=init_params,
        seed_templates=seed_templates,
        clean_html_paths=clean_paths,
        politeness_group=politeness_group,
    )
