#!/usr/bin/env python3
"""Regenerates perfbench/golden.json, the result fingerprints query_mix
checks its outputs against.

    python3 perfbench/golden.py

The benchmark program's probe mode runs every query_mix query at sf0.1 in
the benchmark's own session, on the cores a benchmark run uses. It writes
each output in graft.Verify's dump layout and prints the fingerprint of
that written output. tools/check.py then checks the dump against each
query's DuckDB oracle. A fingerprint is recorded only for an output that
passes; any failure aborts without writing, so a golden is never taken from
an unconfirmed output. Run it after a change to the generator or the query
lists, never to make a mismatch go away.
"""
import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


def main():
    cp, _ = run.build()
    tables = run.ensure_data() / "sf0.1"
    dump, scratch = run.BUILD / "golden", run.BUILD / "scratch" / "golden"
    shutil.rmtree(dump, ignore_errors=True)
    probe = subprocess.run(run.jvm_args(cp) + [
        "probe", "--cores", str(run.cores()), "--scratch", str(scratch), "--dir", str(tables),
        "--dump", str(dump)], cwd=run.ROOT, capture_output=True, text=True, check=True)
    shutil.rmtree(scratch, ignore_errors=True)
    rows = [json.loads(l) for l in probe.stdout.splitlines() if l.startswith("{")]
    chk = subprocess.run([sys.executable, str(run.ROOT / "tools" / "check.py"), str(tables),
                          str(dump)], capture_output=True, text=True)
    print(chk.stdout, end="")
    passed = set(re.findall(r"^PASS (\S+)", chk.stdout, re.M))
    failed = [f"{r['query']}: {r['error']}" for r in rows if not r["ok"]]
    failed += [f"{r['query']}: oracle mismatch" for r in rows
               if r["ok"] and r["query"] not in passed]
    if failed or not rows:
        sys.exit("not written; oracle or run failures:\n  " + "\n  ".join(failed))
    golden = {r["query"]: r["fingerprint"] for r in rows}
    (run.BENCH / "golden.json").write_text(json.dumps(golden, indent=1, sort_keys=True) + "\n")
    print("wrote", run.BENCH / "golden.json")


if __name__ == "__main__":
    main()
