"""Checks on the benchmark's own pieces (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider

- the generator gives byte-identical files for the same seed, and
  different files for another seed, for every input shape, both in
  process and from its own process on a schedule;
- the metric names ``run.py`` prints are the ones BENCHMARK.json lists;
- the independent coreference metrics agree with hand-computed values.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

SMALL = {
    "mentions": dict(n_mentions=200, n_entities=20),
    "docs": dict(n_docs=300, n_buckets=3, n_clusters=60),
    "stream": dict(n_files=4),
}


def _write(shape: str, seed: int, out: str) -> None:
    if shape == "mentions":
        gen.write_mentions(seed, out, **SMALL[shape])
    elif shape == "docs":
        gen.write_docs(seed, out, **SMALL[shape])
    else:
        gen.write_stream(seed, out, **SMALL[shape])


def _contents(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


@pytest.mark.parametrize("shape", sorted(SMALL))
def test_same_seed_same_bytes(tmp_path, shape):
    _write(shape, 7, str(tmp_path / "a"))
    _write(shape, 7, str(tmp_path / "b"))
    _write(shape, 8, str(tmp_path / "c"))
    a = _contents(str(tmp_path / "a"))
    assert a and a == _contents(str(tmp_path / "b"))
    assert a != _contents(str(tmp_path / "c"))


def test_scheduled_stream_process_matches(tmp_path):
    """The stream written by the generator's own process on a schedule
    holds the same bytes as the in-process write, and logs every file."""
    _write("stream", 7, str(tmp_path / "direct"))
    log = tmp_path / "gen.jsonl"
    cmd = [sys.executable, os.path.join(HERE, "gen.py"), "stream", "--seed", "7", "--files", "4"]
    cmd += ["--out", str(tmp_path / "sched"), "--t0", repr(time.time()), "--log", str(log)]
    subprocess.run(cmd, check=True, timeout=60)
    assert _contents(str(tmp_path / "sched")) == _contents(str(tmp_path / "direct"))
    assert len(log.read_text().splitlines()) == 4


def test_docs_mtimes_pin_bucket_order(tmp_path):
    gen.write_docs(7, str(tmp_path), **SMALL["docs"])
    names = sorted(os.listdir(tmp_path))
    mtimes = [os.path.getmtime(tmp_path / n) for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(names)


def test_metric_names_match_benchmark_json():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_coref_metrics_small_case():
    # truth {0,1,2},{3,4}; prediction {0,1},{2,3,4}
    m = check.coref_metrics(np.array([0, 0, 0, 1, 1]), np.array([0, 0, 1, 1, 1]))
    assert m["muc_p"] == m["muc_r"] == pytest.approx(2 / 3, abs=1e-6)
    b3 = round((1 + 1 + 1 / 3 + 2 / 3 + 2 / 3) / 5, 6)  # per-mention precision, averaged
    assert m["b3_p"] == pytest.approx(b3, abs=1e-6)
    # CEAF-e: best alignment {0,1,2}-{0,1} (phi 0.8) + {3,4}-{2,3,4} (phi 0.8)
    assert m["ceaf_p"] == m["ceaf_r"] == pytest.approx(0.8, abs=1e-6)
