"""spark-submit analogue of the reference's ``suggest indexer`` command
(/root/reference/cmd/suggest/cmd/indexer.go:35-137): read a config file in
the REFERENCE's own JSON format — a list of IndexDescription objects with
``driver/name/nGramSize/alphabet/source/output/pad/wrap`` — and, for every
DISC entry, build the dictionary table and the size-partitioned n-gram
index under the output warehouse path (RAM entries are skipped, exactly as
indexJob does).

    python jobs/indexer_job.py --config config.json [--base-dir DIR]

Output layout per description, both in the one versioned layout of
operators/versioned.py: ``<output>/<name>_dictionary`` ((doc_id, value)
bucketed by doc_id — the CDB analogue) and ``<output>/<name>_index``
((doc_id, size, term) partitioned by size — the inverted-index directory
analogue).  The dictionary is written first, then the index, as
``SuggestService.add_disc_index`` does.  A re-run over the same output
commits new versions beside the old ones, so a service still serving the
previous run keeps reading its snapshot; superseded versions are GC'd after
``SuggestService.gc_min_age_sec``.  A service picks the rebuilt artifacts up
via ``load_disc_index``.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from suggest_spark.config import IndexConfig
from suggest_spark.operators.indexing import (
    build_ngram_index,
    invalidate_index_stats,
    write_index_stats,
)
from suggest_spark.operators.service import SuggestService
from suggest_spark.operators.versioned import (
    checked_manifest,
    gc_versions,
    read_versioned_bucketed_table,
    read_versioned_index,
    write_versioned_bucketed_table,
    write_versioned_index,
)
from suggest_spark.plans.session import get_spark
from suggest_spark.sources.dictionary import read_line_dictionary

log = logging.getLogger(__name__)


def index_config_from_description(desc: dict) -> IndexConfig:
    """IndexDescription JSON → IndexConfig (pkg/suggest/config.go:25-35)."""
    return IndexConfig(
        ngram_size=int(desc.get("nGramSize", 3)),
        pad=desc.get("pad", "$"),
        wrap=tuple(desc.get("wrap", ["$", "$"])),
        alphabet=tuple(desc.get("alphabet", ["english", "russian", "numbers", "$"])),
    )


def run_index_job(spark, desc: dict, base_dir: str) -> dict | None:
    if desc.get("driver", "DISC") != "DISC":
        log.info("skip processing %r, there is no disc configuration", desc["name"])
        return None
    cfg = index_config_from_description(desc)
    source = os.path.join(base_dir, desc["source"])
    out = os.path.join(base_dir, desc.get("output", "db"))

    dict_path = os.path.join(out, f"{desc['name']}_dictionary")
    index_path = os.path.join(out, f"{desc['name']}_index")
    stats_path = f"{index_path}_stats"
    # refuse an output dir in any other layout before anything is written
    checked_manifest(spark, dict_path, "bucket")
    checked_manifest(spark, index_path, "size")
    grace = SuggestService.gc_min_age_sec

    t0 = time.time()
    write_versioned_bucketed_table(read_line_dictionary(spark, source), dict_path)
    dictionary = read_versioned_bucketed_table(spark, dict_path)
    t_dict = time.time() - t0

    t0 = time.time()
    # a RE-run replaces the index: invalidate any stats from the previous
    # run BEFORE touching it
    invalidate_index_stats(spark, stats_path)
    write_versioned_index(build_ngram_index(dictionary, config=cfg), index_path)
    index = read_versioned_index(spark, index_path)
    t_index = time.time() - t0

    # planner statistics next to the index: the booting service feeds them
    # to suggest_topk_auto so plan selection and the prefix path's
    # term_df/doc_terms/delta_max artifacts cost zero query-time jobs
    t0 = time.time()
    stats = write_index_stats(spark, index, stats_path, min_age_sec=grace)
    t_stats = time.time() - t0
    for path in (dict_path, index_path):
        gc_versions(spark, path, min_age_sec=grace)
    return {
        "name": desc["name"],
        "dictionary": dict_path,
        "index": index_path,
        "stats": stats_path,
        "index_stats": stats,
        "t_dictionary_sec": round(t_dict, 2),
        "t_index_sec": round(t_index, 2),
        "t_stats_sec": round(t_stats, 2),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True, help="reference-format IndexDescription JSON list")
    ap.add_argument("--base-dir", default=None, help="resolve source/output relative to this dir (default: config dir)")
    ap.add_argument("--master", default=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
    args = ap.parse_args()
    logging.basicConfig()
    log.setLevel(logging.INFO)

    with open(args.config) as f:
        descriptions = json.load(f)
    base_dir = args.base_dir or os.path.dirname(os.path.abspath(args.config))

    spark = get_spark(app_name="suggest_indexer", master=args.master)
    results = []
    for desc in descriptions:
        r = run_index_job(spark, desc, base_dir)
        if r is not None:
            results.append(r)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
