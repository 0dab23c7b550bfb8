"""HTTP front door for :class:`SuggestService` — route/shape parity with the
reference's API app (/root/reference/internal/suggest/api/app.go:73-77):

    GET  /                              -> {"project": ..., "version": ...}
    GET  /autocomplete/<dict>/<query>/  ?topK=          -> [ResultItem]
    GET  /suggest/<dict>/<query>/       ?metric=&similarity=&topK= -> [ResultItem]
    GET  /dict/list/                    -> ["cars", ...]
    POST /internal/reindex/             -> "OK"  (runs the reindex job)

ResultItem JSON is ``{"Score": float, "Value": str}`` (service.go:11-17 field
names; autocomplete items carry Score 0, service.go:169).  Error mapping
follows the reference handlers: malformed search params -> 400
(suggest_handler.go:78-103 buildSearchConfig), unknown dictionary -> 500
(suggest_handler.go:55 — the reference's own "TODO return 4** on dictionary
not found" behaviour, reproduced for parity), reindex failure -> 500
(reindex_handler.go:12-18).

This is deliberately a *shim*: one process, the driver's SparkSession, no
app state beyond the service registry — the heavy lifting (index swap
atomicity, reader isolation) lives in SuggestService/versioned.py.  For
production you'd front N driver replicas with a load balancer; each replica
serves reads from its own immutable snapshot and POST /internal/reindex is
the same build-then-swap on every replica (the reference runs the same
single-process model behind SIGHUP, app.go:47-68).

Latency model (``coalesce=True``, the service job's default): a dictionary
with a HOT REPLICA enabled (serving/replica.py — the service job enables it
at boot for every entry under the postings bound) answers each request
in-driver in milliseconds (p50 2.5 ms measured on words.dict,
BASELINE.md round-5 table); an entry on the Spark path pays one job per
request (~1.9 s warm after ``service.warm()``), and N CONCURRENT requests
pay ~one job TOTAL per distinct search-parameter group
(serving/coalesce.py batches them through ``suggest_batch``), so throughput
under load tracks the measured batch rate (300-400 q/s at sf0.1) instead of
degrading linearly with user count.

Flask is imported inside ``create_app`` — environments without it get an
ImportError at call time, not import time, so the rest of the package
works regardless.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from ..functions.metrics import METRICS

DEFAULT_SIMILARITY = 0.5  # suggest_handler.go:20
DEFAULT_TOPK = 5  # suggest_handler.go:21

#: the reference's metric map is CASE-SENSITIVE on capitalized names
#: (suggest_handler.go:26-33: "Jaccard", "Cosine", ...) — lowercase
#: "jaccard" is a 400 there, so it is a 400 here (exact parity; the
#: engine-internal METRICS map stays lowercase for programmatic callers)
HTTP_METRICS = {m.name.capitalize(): m for m in METRICS.values()}


def _result_items(pairs) -> list[dict]:
    """[(score, value)] -> reference ResultItem JSON (service.go:11-17)."""
    return [{"Score": float(s), "Value": v} for s, v in pairs]


def create_app(
    service,
    reindex_job: Callable[[], None] | None = None,
    project: str = "suggest_spark",
    version: str = "v1",
    coalesce: bool = False,
):
    """Build the Flask app over a live ``SuggestService``.

    ``reindex_job`` is the POST /internal/reindex callable (the reference's
    closure over configureService, app.go:47-52); omit it to 500 the route.

    ``coalesce=True`` routes suggest/autocomplete through a
    :class:`~suggest_spark.serving.coalesce.RequestCoalescer`: N concurrent
    requests fold into one Spark job per distinct search-parameter group
    (row-identical responses — same plan, batched by query_id).  The
    service job enables this; tests of route shape use the direct path.
    """
    from flask import Flask, Response, request

    if coalesce:
        from .coalesce import RequestCoalescer

        service = RequestCoalescer(service)

    app = Flask("suggest_spark.serving")
    app.url_map.strict_slashes = False  # mux StrictSlash(true) analogue

    def _json(payload, status=200):
        return Response(
            json.dumps(payload), status=status, mimetype="application/json"
        )

    @app.get("/")
    def home():  # home_handler.go:13-20
        return _json({"project": project, "version": version})

    @app.get("/dict/list/")
    def dict_list():  # dict_handler.go:17-19
        return _json(service.dictionaries())

    def _topk(default=DEFAULT_TOPK):
        raw = request.args.get("topK", "")
        if raw == "":
            return default
        k = int(raw)  # ValueError -> 400 via the handler's try
        if k <= 0:
            raise ValueError(f"topK must be positive, got {k}")
        return k

    @app.get("/autocomplete/<dict_name>/<path:query>/")
    def autocomplete(dict_name, query):  # autocomplete_handler.go:18-51
        try:
            topk = _topk()
        except ValueError as e:
            return Response(str(e), status=400, mimetype="text/plain")
        try:
            values = service.autocomplete(dict_name, query, topk)
        except KeyError as e:
            # dictionary not found -> 500 for reference parity
            return Response(str(e), status=500, mimetype="text/plain")
        return _json(_result_items((0, v) for v in values))

    @app.get("/suggest/<dict_name>/<path:query>/")
    def suggest(dict_name, query):  # suggest_handler.go:42-76
        try:
            topk = _topk()
            metric_name = request.args.get("metric", "")
            metric = HTTP_METRICS.get(metric_name)  # case-sensitive, see map
            if metric is None:  # suggest_handler.go:90 "metric is not found"
                raise ValueError("metric is not found")
            similarity = float(request.args.get("similarity", DEFAULT_SIMILARITY))
            if not 0.0 < similarity <= 1.0:  # suggest.NewSearchConfig bounds
                raise ValueError(f"similarity must be in (0, 1], got {similarity}")
        except ValueError as e:
            return Response(str(e), status=400, mimetype="text/plain")
        try:
            pairs = service.suggest(dict_name, query, metric, similarity, topk)
        except KeyError as e:
            return Response(str(e), status=500, mimetype="text/plain")
        return _json(_result_items(pairs))

    @app.post("/internal/reindex/")
    def reindex():  # reindex_handler.go:12-25
        if reindex_job is None:
            return Response(
                "no reindex job configured", status=500, mimetype="text/plain"
            )
        try:
            reindex_job()
        except Exception as e:  # the Go handler maps any error to 500
            return Response(str(e), status=500, mimetype="text/plain")
        return Response("OK", mimetype="text/plain")

    return app


def service_from_config(spark, config_path: str, base_dir: str | None = None):
    """Boot a service + reindex job from a reference-format IndexDescription
    config (app.go:110-137 configureService).  Returns ``(service,
    reindex_job)`` where the job re-reads the config and rebuild-swaps every
    DISC entry — the SIGHUP / POST /internal/reindex semantics (app.go:47-68).

    Reader isolation: a reindex goes through ``add_disc_index(rebuild=True)``
    — a fresh immutable ``v=N`` write + atomic manifest swap (versioned.py) —
    never an in-place overwrite of the parquet a live query is scanning, and
    planner stats are refreshed through the same versioned protocol.  The
    served dictionary is always the lazy line-read of the SOURCE ``.dict``
    file (the dictionary of record, which a reindex never rewrites); the
    ``<name>_dictionary`` versioned table is only a boot artifact for
    external ``load_disc_index`` consumers — created once here, refreshed
    offline via ``jobs/indexer_job.py``.  Boot opens an existing index
    snapshot as-is (no rebuild of a 100 TB index on process start) and
    builds only on first run.
    """
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    from jobs.indexer_job import index_config_from_description

    from ..operators.service import SuggestService
    from ..operators.versioned import write_versioned_bucketed_table
    from ..sources import fsutil
    from ..sources.dictionary import read_line_dictionary

    service = SuggestService(spark)
    base = base_dir or os.path.dirname(os.path.abspath(config_path))

    def _descriptions() -> list[dict]:
        with open(config_path) as f:
            return json.load(f)

    def _paths(desc: dict) -> tuple[str, str, str]:
        out = os.path.join(base, desc.get("output", "db"))
        return (
            os.path.join(base, desc["source"]),
            os.path.join(out, f"{desc['name']}_index"),
            os.path.join(out, f"{desc['name']}_dictionary"),
        )

    def _register(desc: dict, rebuild: bool) -> None:
        cfg = index_config_from_description(desc)
        source, index_path, dict_path = _paths(desc)
        dictionary = read_line_dictionary(spark, source)
        if desc.get("driver", "DISC") == "RAM":
            # the reference serves RAM descriptions too (AddIndexByDescription,
            # app.go:110-137) — only its INDEXER skips them; rebuild == re-add
            service.add_ram_index(desc["name"], dictionary, cfg)
            return
        service.add_disc_index(desc["name"], dictionary, index_path, cfg, rebuild=rebuild)
        if rebuild:
            service.refresh_stats(desc["name"])
            if not fsutil.exists(spark, dict_path):  # create-only boot artifact
                write_versioned_bucketed_table(dictionary, dict_path)

    def reindex_job() -> None:
        for desc in _descriptions():
            _register(desc, rebuild=True)

    for desc in _descriptions():
        _, index_path, _ = _paths(desc)
        _register(desc, rebuild=not fsutil.exists(spark, index_path))

    return service, reindex_job
