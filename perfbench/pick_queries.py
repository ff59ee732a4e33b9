#!/usr/bin/env python3
"""Select and pin the short_queries workload from a traced survey.

    python3 perfbench/run.py --tool survey SURVEY.jsonl 2
    python3 perfbench/run.py --tool verify VERIFY_DIR
    python3 tools/compare_oracle.py perfbench/data/sf0.01 VERIFY_DIR > ORACLE.txt
        (or its k/n shards, concatenated)
    python3 perfbench/pick_queries.py SURVEY.jsonl ORACLE.txt

Applies the selection rules below to the survey (one JSON object per
slate query: cold, warm and count-timed wall times, the traced layer
split and the result fingerprint), copies the survey to
`perfbench/records/`, and rewrites the query lists and their records in
`perfbench/workloads.json` and the pinned fingerprints in
`perfbench/expected.json`. A query is pinned only when the oracle
comparison printed no FAIL line for it.
"""
import json
import os
import shutil
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))

# warm wall time under which a query is "short": its fixed costs
# (schema-inference jobs, planning, job scheduling) dominate; the cold
# bound leaves out queries whose first run pays a one-off session memo
# (model source views, streaming start-up) that would dominate the
# first pass
SHORT_MAX_WARM_S = 0.13
SHORT_MAX_COLD_S = 0.3


def main(survey_path, oracle_path):
    rows = [json.loads(line) for line in open(survey_path)]
    oracle_fail = {line.split()[1].rstrip(":") for line in open(oracle_path)
                   if line.startswith("FAIL ")}
    # one "<passed>/<attempted> passed" line per oracle shard
    shards = [line.split()[0].split("/") for line in open(oracle_path)
              if line.strip().endswith(" passed")]
    oracle_summary = (f"{sum(int(p) for p, _ in shards)}/"
                      f"{sum(int(n) for _, n in shards)} passed "
                      f"(tools/compare_oracle.py, {len(shards)} shards)")
    ok = [r for r in rows if r["error"] is None and r["hash"] is not None
          and r["query"] not in oracle_fail]

    short = sorted(r["query"] for r in ok if r["warm_s"] < SHORT_MAX_WARM_S
                   and r["cold_s"] < SHORT_MAX_COLD_S)

    os.makedirs(os.path.join(BENCH, "records"), exist_ok=True)
    record = "perfbench/records/survey-sf0.01.jsonl"
    shutil.copyfile(survey_path, os.path.join(os.path.dirname(BENCH), record))

    by = {r["query"]: r for r in rows}

    def gaps(names):
        return {n: {"count_timed_s": round(by[n]["count_timed_s"], 4),
                    "materialized_s": round(by[n]["warm_s"], 4)}
                for n in names}

    def totals(names):
        return {"queries": len(names),
                "warm_pass_s": round(sum(by[n]["warm_s"] for n in names), 3),
                "first_pass_s": round(sum(by[n]["cold_s"] for n in names), 3)}

    path = os.path.join(BENCH, "workloads.json")
    cfg = json.load(open(path))
    common = {"survey": record, "survey_oracle": oracle_summary,
              "loop": "closed", "clients": 1}
    cfg["workloads"]["short_queries"].update(common, **{
        "selection_rule":
            f"survey warm wall time < {SHORT_MAX_WARM_S} s and cold wall "
            f"time < {SHORT_MAX_COLD_S} s, result pinned",
        "survey_totals": totals(short), "queries": short,
        "count_vs_materialized": gaps(short)})
    with open(path, "w") as fh:
        json.dump(cfg, fh, indent=2)
        fh.write("\n")

    pinned = {r["query"]: {"rows": r["rows"], "hash": r["hash"]}
              for r in sorted(ok, key=lambda r: r["query"])
              if r["query"] in short}
    with open(os.path.join(BENCH, "expected.json"), "w") as fh:
        json.dump({"source": record, "queries": pinned}, fh, indent=1)
        fh.write("\n")
    print(f"short_queries: {len(short)} queries, {len(pinned)} pinned")


if __name__ == "__main__":
    main(*sys.argv[1:3])
