"""bench.py's record emit: the full record goes to a file and stdout ends
with a compact headline line that a tail capture can still parse."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE_KEYS, emit_record  # noqa: E402


def test_emit_record_writes_full_file_and_compact_last_line(tmp_path, capsys):
    record = {
        "metric": "headline_total_wall",
        "value": 12.5,
        "unit": "sec",
        "queries": {"linkage_e2e": 4.1, "suggest_topk": 2.2, "suggest_words": 6.2},
        "sf": 0.01,
        "cpus": 4,
        # the detail block is what made one-line records outgrow a tail capture
        "detail": {f"segment_{i}": {"samples": list(range(50))} for i in range(40)},
    }
    path = str(tmp_path / "out" / "bench_record.json")
    print("earlier progress output")
    emit_record(record, path)

    with open(path) as f:
        assert json.load(f) == record
    last = capsys.readouterr().out.rstrip("\n").split("\n")[-1]
    assert len(last.encode("utf-8")) <= 1024
    head = json.loads(last)
    assert head == {**{k: record[k] for k in HEADLINE_KEYS}, "record": path}
    assert len(json.dumps(record)) > 1024  # the full record would not have fit
