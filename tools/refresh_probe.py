"""Family-refresh + dedup-audit scale probe (VERDICT r13 tasks 1 & 3).

Measures, at corpus factors over $SPARK_GRAFT_SF_DIR (default sf0.1):

- ``mount_full``      — mount() wall-clock (vector + text + dedup families)
- ``refresh_full``    — refresh() with no families: every mounted family
- ``refresh_vector``  — refresh(families=["vector"]): the localized-drift
                        path that skips the text/dedup retrains entirely
- ``refresh_text``    — refresh(families=["text"])
- ``refresh_dedup``   — refresh(families=["dedup"])
- ``audit_dedup``     — the bounded LSH recall audit (sample_n=256); must
                        stay ~FLAT in corpus factor (sample-bounded arms,
                        id-pruned band read)

Usage: python tools/refresh_probe.py [factors...]   (default: 1 10)
Prints one JSON line {factor: {stage: sec, ...}}.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FACTORS = [int(a) for a in sys.argv[1:]] or [1, 10]


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    from simsearch_spark.mount import audit_dedup, mount, refresh
    from simsearch_spark.session import get_spark

    spec = importlib.util.spec_from_file_location(
        "scale_probe", os.path.join(os.path.dirname(__file__), "scale_probe.py")
    )
    sp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sp)

    spark = get_spark(app_name="refresh-probe")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="simsearch_refresh_")
    out: dict[str, dict] = {}
    try:
        for f in FACTORS:
            sf = sp.replicate(root, f)
            d = os.path.join(sf, "_m")
            res: dict[str, float] = {}
            res["mount_full"] = timed(lambda: mount(spark, sf, d))
            res["refresh_full"] = timed(lambda: refresh(spark, d))
            res["refresh_vector"] = timed(
                lambda: refresh(spark, d, families=["vector"])
            )
            res["refresh_text"] = timed(lambda: refresh(spark, d, families=["text"]))
            res["refresh_dedup"] = timed(
                lambda: refresh(spark, d, families=["dedup"])
            )
            audit_dedup(spark, d, sample_n=256)  # warm
            res["audit_dedup"] = timed(lambda: audit_dedup(spark, d, sample_n=256))
            out[str(f)] = res
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
