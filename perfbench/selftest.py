"""Self-tests of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

1. Every generator is deterministic: the same (workload, seed) writes the
   same bytes, another seed writes other bytes.
2. Each workload passes its own verification at the tiny size.
3. The verifiers reject perturbed outputs: a planted truth that no longer
   matches the outputs (s1_timecourse, curation), and one flipped bit in
   a dumped t-test value against the DuckDB replay (keyed_stats).

Builds the program first; takes a few minutes (one JVM per workload).
"""
import filecmp
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

TMP = os.path.join(build.BUILD, "selftest")


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    if any(not filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
           for f in cmp.common_files):
        return False
    return all(same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_generators_deterministic():
    for w in gen.GENERATORS:
        dirs = [os.path.join(TMP, "gen", f"{w}-{tag}") for tag in ("a", "b", "c")]
        for d, seed in zip(dirs, (7, 7, 8)):
            shutil.rmtree(d, ignore_errors=True)
            gen.generate(w, seed, d, "tiny")
        assert same_tree(dirs[0], dirs[1]), f"{w}: same seed, different bytes"
        assert not same_tree(dirs[0], dirs[2]), f"{w}: different seeds, same bytes"
        print(f"ok   {w}: generator deterministic")


def execute(classes, workload, data, dump=False):
    extra = ["--seconds", "0", "--trace", "0"] + (["--dump", "1"] if dump else [])
    log = os.path.join(TMP, f"{workload}.log")
    return run.jvm(classes, workload, data, extra, log)


def perturbed_copy(data, edit):
    """A copy of the generated inputs whose truth.json `edit` changed."""
    copy = data + "-perturbed"
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(data, copy)
    path = os.path.join(copy, "truth.json")
    with open(path) as f:
        truth = json.load(f)
    edit(truth)
    with open(path, "w") as f:
        json.dump(truth, f)
    return copy


def test_verification(classes):
    def drop_planted(t):
        t["planted"].pop(sorted(t["planted"])[0])

    def keep_a_copy(t):
        family = sorted(t["families"])[0]
        t["kept"] = sorted(set(t["kept"]) | set(t["families"][family]))

    for workload, edit in (("s1_timecourse", drop_planted), ("curation", keep_a_copy)):
        data = run.inputs(workload, 7, "tiny")
        r = execute(classes, workload, data)
        assert r["failed"] == 0 and len(r["digests"]) == 1, f"{workload}: {r['errors']}"
        print(f"ok   {workload}: outputs verified at tiny size")
        r = execute(classes, workload, perturbed_copy(data, edit))
        assert r["failed"] == r["attempted"], f"{workload}: perturbed truth accepted"
        print(f"ok   {workload}: verifier rejects outputs that miss the truth")

    data = run.inputs("keyed_stats", 7, "tiny")
    r = execute(classes, "keyed_stats", data, dump=True)
    work = os.path.join(run.WORK, "keyed_stats")
    assert r["failed"] == 0 and not run.duckdb_check(data, work), "keyed_stats: replay mismatch"
    print("ok   keyed_stats: t-tests and ANOVA match the DuckDB replay")
    path = os.path.join(work, "ttest_ind.tsv")
    with open(path) as f:
        rows = f.read().splitlines()
    cells = rows[0].split("\t")
    cells[-2] = str(int(cells[-2]) ^ 1)  # one ulp of the t statistic
    rows[0] = "\t".join(cells)
    with open(path, "w") as f:
        f.write("\n".join(rows) + "\n")
    assert run.duckdb_check(data, work), "keyed_stats: flipped bit accepted"
    print("ok   keyed_stats: replay check rejects a one-ulp change")


def main():
    os.makedirs(TMP, exist_ok=True)
    test_generators_deterministic()
    test_verification(build.build())
    print("all self-tests passed")


if __name__ == "__main__":
    main()
