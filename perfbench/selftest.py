#!/usr/bin/env python3
"""Checker self-test: every checker kind accepts a real output of the
program and rejects a deliberately corrupted copy of it.

Run from the root of a checkout (builds like run.py, then one warm-up pass
of each workload, about three minutes in all):

    python3 perfbench/selftest.py [workload ...]

Exits 0 when every checker passed its real output and rejected every
corruption.
"""
import json
import os
import shutil
import sys
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402


def bump_number(df):
    """+1 on the first non-zero numeric cell of the first column that has one."""
    df = df.copy()
    for c in sorted(df.columns):
        if pd.api.types.is_numeric_dtype(df[c]) and len(df):
            i = int((df[c] != 0).to_numpy().argmax())
            df.loc[i, c] = df.loc[i, c] + 1
            return df
    df.loc[0, df.columns[0]] = str(df.loc[0, df.columns[0]]) + "x"
    return df


def positive_logp(df):
    df = df.copy()
    df.loc[0, "logp"] = 0.5
    return df


def drop_char(df):
    """Removes every piece holding the corpus's rarest covered character."""
    chars = pd.Series([c for p in df["piece"] for c in set(p)]).value_counts()
    rare = chars.index[-1]
    return df[~df["piece"].str.contains(rare, regex=False)].reset_index(drop=True)


def drop_read_row(df):
    return df.drop(index=df.index[len(df) // 2]).reset_index(drop=True)


def corruptions(kind):
    return {
        "oracle": [bump_number],
        "unigram": [positive_logp, drop_char],
        "layout": [drop_read_row, bump_number],
    }[kind]


def main():
    workloads = sys.argv[1:] or list(run.WORKLOADS)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = run.build(build_dir)
    failures, tried = [], 0
    for w in workloads:
        work = os.path.join(build_dir, f"selftest-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        try:
            data = os.path.join(work, "data")
            run.make_inputs(w, data, seed=7)
            run.run_jvm(classes, w, data, work, 0, 0, 7, time.time() + run.RUN_DEADLINE_S)
            with open(os.path.join(work, "result.json")) as f:
                res = json.load(f)
            con = checks.connect(data)
            for op in res["ops"]:
                name, kind = op["name"], op["check"]
                got = pd.read_parquet(os.path.join(work, "ref", name))
                msg = checks.check_op(kind, got, con, res, name, work)
                if msg:
                    failures.append(f"{name} [{kind}]: real output rejected: {msg}")
                for bad in corruptions(kind):
                    tried += 1
                    if not checks.check_op(kind, bad(got), con, res, name, work):
                        failures.append(f"{name} [{kind}]: corruption accepted")
                print(f"{name} [{kind}] ok" if not any(f.startswith(name + " ") for f in failures)
                      else f"{name} [{kind}] FAILED", flush=True)
            con.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print("FAIL", f)
    print(f"== {tried} corruptions tried, {len(failures)} failures ==")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
