#!/usr/bin/env python3
"""Unit test for bench_delta.py's artifact-recovery ladder, focused on
the r8 incident: a stale sibling bench_out.json (overwritten by a LATER
run) must never stand in for an older artifact whose own tail still
carries its spread map.

Run: python3 tools/test_bench_delta.py
"""
import importlib.util
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
spec = importlib.util.spec_from_file_location(
    "bench_delta", os.path.join(HERE, "bench_delta.py"))
bd = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bd)


def write(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)


def artifact(tail):
    return {"parsed": None, "tail": tail}


def main():
    failures = []

    def check(name, cond, detail=""):
        if cond:
            print(f"  ok  {name}")
        else:
            print(f"FAIL  {name}  {detail}")
            failures.append(name)

    with tempfile.TemporaryDirectory() as d:
        stale_sib = {"queries": {"q1_agg": 9.99, "dedup_exact": 9.99},
                     "spread": {}, "sf": "/root/testdata/sf0.1",
                     "wall": 222}
        write(os.path.join(d, "bench_out.json"), stale_sib)

        # 1. tail spread outranks the sibling (the r8 incident shape:
        #    pre-wall artifact, sibling from a different run)
        prev = os.path.join(d, "BENCH_prev.json")
        write(prev, artifact(
            '...,"spread":{"q1_agg":{"min":1.0,"med":1.1,"max":1.2},'
            '"dedup_exact":{"min":2.0,"med":2.1,"max":2.2}},"failed":[],'
            '"sf":"/root/testdata/sf0.1"}'))
        q, s = bd.load(prev)
        check("tail spread beats stale sibling",
              q == {"q1_agg": 1.0, "dedup_exact": 2.0}, f"got {q}")
        check("spread recovered alongside",
              s.get("q1_agg", {}).get("med") == 1.1, f"got {s}")

        # 2. truncation INSIDE the spread map: surviving entries are
        #    scraped, sibling still not consulted
        mid = os.path.join(d, "BENCH_mid.json")
        write(mid, artifact(
            ':1.9},"dedup_exact":{"min":3.0,"med":3.1,"max":3.2}},'
            '"failed":[],"sf":"/root/testdata/sf0.1"}'))
        q, _ = bd.load(mid)
        check("mid-spread truncation scrapes entries, not sibling",
              q == {"dedup_exact": 3.0}, f"got {q}")

        # 3. no spread in tail, wall stamp MISMATCHES sibling ->
        #    sibling rejected, scalar scrape used
        nospread = os.path.join(d, "BENCH_nospread.json")
        write(nospread, artifact(
            '"queries":{"q1_agg":4.0},"failed":[],'
            '"sf":"/root/testdata/sf0.1","wall":111}'))
        q, _ = bd.load(nospread)
        check("wall mismatch rejects sibling",
              q.get("q1_agg") == 4.0 and q.get("dedup_exact") is None,
              f"got {q}")

        # 4. wall stamp MATCHES -> sibling accepted (same-run recovery,
        #    the case the sibling exists for). Tail carries wall but no
        #    spread/queries.
        match = os.path.join(d, "BENCH_match.json")
        write(match, artifact('...totally truncated...,"wall":222}'))
        q, _ = bd.load(match)
        check("wall match accepts sibling",
              q == stale_sib["queries"], f"got {q}")

        # 5. BENCHMIN line still wins over everything
        bm = os.path.join(d, "BENCH_bm.json")
        write(bm, artifact(
            'garbage BENCHMIN {"queries":{"q1_agg":5.0},"failed":[],'
            '"sf":"x","wall":222}'))
        q, _ = bd.load(bm)
        check("BENCHMIN preferred", q == {"q1_agg": 5.0}, f"got {q}")

        # 6. --traces: census counts diff exactly, unchanged ones are
        #    silent, per-layer metrics are all listed
        def trace(jobs, nlj, task_s):
            return {"workload": "retrieval", "seed": 42, "cpus": 4,
                    "census": {
                        "kmeans_train": {"jobs": jobs, "stages": jobs,
                                         "nested_loop_joins": nlj,
                                         "files_written": 0},
                        "ann_topk": {"jobs": 4, "stages": 4}},
                    "metrics": {"spark.jobs": jobs + 4,
                                "spark.task_s": task_s}}
        census, metrics = bd.trace_delta(trace(18, 3, 0.5),
                                         trace(10, 0, 0.25))
        check("trace census rows are exactly the moved counts",
              census == [("kmeans_train", "jobs", 18, 10),
                         ("kmeans_train", "stages", 18, 10),
                         ("kmeans_train", "nested_loop_joins", 3, 0)],
              f"got {census}")
        check("trace metrics list every per-layer metric",
              metrics == [("spark.jobs", 22, 14),
                          ("spark.task_s", 0.5, 0.25)], f"got {metrics}")
        census, _ = bd.trace_delta(trace(18, 3, 0.5), trace(18, 3, 0.7))
        check("identical counts give no census rows", census == [],
              f"got {census}")

    if failures:
        sys.exit(f"{len(failures)} failing: {', '.join(failures)}")
    print("all bench_delta recovery checks pass")


if __name__ == "__main__":
    main()
