#!/usr/bin/env python3
"""Pre-commit green-chain guard. Run before EVERY commit; mandatory for
any commit made after the round's snapshot commit.

    python3 tools/precommit.py [query_name ...]

Round 9's failure mode: the final three commits of the round were made
without re-running ANYTHING — the last one contained a scaladoc with a
literal `*/` inside it, HEAD stopped compiling, and the driver's
CORRECTNESS_r09.json came back `{}` (scalac would have caught it in 3
seconds). This tool is the structural fix: it makes the minimal check a
single command so there is no excuse to skip it.

1. `sbt -batch compile` + `Test/compile`  — the round-9 class of failure
2. registry reachability — every graft.queries.*Ops object defining
   `all: Seq[Q]` must be referenced from SparkEntry.scala (round 9 also
   shipped SelectionOps unregistered → dead code, never gated)
3. single session cache — no src/main file but SessionCache declares a
   map keyed on a SparkSession or LogicalPlan
4. with query names: run graft.Verify on exactly those rows @ sf0.01 and
   tools/check.py on the dump (the driver-gate stand-in for the rows you
   just touched)
5. staleness report — README's counts-block HEAD vs the current HEAD, so
   a post-snapshot commit visibly admits its artifacts are stale

Exit code is non-zero on any red step; the staleness report is a warning
only (the next snapshot commit clears it).
"""
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.01"
OUT = "/tmp/graft-precommit"


def run(title, cmd, capture=False):
    print(f"[precommit] === {title}", flush=True)
    r = subprocess.run(cmd, cwd=REPO, capture_output=capture, text=True)
    if r.returncode != 0:
        if capture:
            sys.stderr.write((r.stdout or "")[-3000:] + (r.stderr or "")[-3000:])
        raise SystemExit(f"[precommit] RED — '{title}' failed; do NOT commit")
    return r.stdout if capture else None


def check_registry_reachability():
    """Every queries/*.scala object exposing `all: Seq[Q]` must appear in
    SparkEntry.scala's registry chain."""
    entry = (REPO / "src/main/scala/graft/SparkEntry.scala").read_text()
    missing = []
    for f in sorted((REPO / "src/main/scala/graft/queries").glob("*.scala")):
        text = f.read_text()
        m = re.search(r"object (\w+)", text)
        if m and re.search(r"\bdef all\s*:\s*Seq\[Q\]", text):
            if not re.search(rf"\b{m.group(1)}\.all\b", entry):
                missing.append(m.group(1))
    if missing:
        raise SystemExit("[precommit] RED — query objects not in "
                         f"SparkEntry.registry: {missing}")
    print("[precommit] registry reachability ok", flush=True)


def _map_key_types(text):
    """The key-type argument of every `...Map[K, V]` in Scala source
    `text` (comments stripped), with its line number."""
    code = re.sub(r"/\*.*?\*/", lambda m: "\n" * m.group().count("\n"),
                  text, flags=re.S)
    code = re.sub(r"//[^\n]*", "", code)
    for m in re.finditer(r"\b\w*Map\[", code):
        depth, i, key = 1, m.end(), None
        while i < len(code) and depth:
            c = code[i]
            if c in "[(":
                depth += 1
            elif c in "])":
                depth -= 1
            elif c == "," and depth == 1 and key is None:
                key = code[m.end():i]
            i += 1
        yield code.count("\n", 0, m.start()) + 1, key or code[m.end():i - 1]


def check_single_session_cache(root=REPO):
    """Session-scoped caching lives in graft.operators.SessionCache only:
    no other src/main file may declare a map keyed on a SparkSession or a
    LogicalPlan (it would escape SessionCache.reset() and its bounds)."""
    found = []
    for f in sorted((root / "src/main").rglob("*.scala")):
        if f.name == "SessionCache.scala":
            continue
        for line, key in _map_key_types(f.read_text()):
            if re.search(r"\b(SparkSession|LogicalPlan)\b", key):
                found.append(f"{f.relative_to(root)}:{line}")
    if found:
        raise SystemExit("[precommit] RED — session/plan-keyed maps outside "
                         f"SessionCache: {found}")
    print("[precommit] single session cache ok", flush=True)


def staleness_report():
    head = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
                          capture_output=True, text=True).stdout.strip()
    m = re.search(r"\*\*Status at `(\w+)`\*\*", (REPO / "README.md").read_text())
    if m and not head.startswith(m.group(1)) and not m.group(1).startswith(head):
        print(f"[precommit] WARNING: README counts pinned at {m.group(1)} "
              f"but HEAD is {head} — artifacts are STALE; run "
              "tools/round_snapshot.py before the round ends", flush=True)
    else:
        print(f"[precommit] README counts HEAD matches ({head})", flush=True)


def main():
    names = sys.argv[1:]
    run("sbt compile", ["sbt", "-batch", "compile", "Test/compile"])
    check_registry_reachability()
    check_single_session_cache()
    if names:
        subprocess.run(["rm", "-rf", OUT], check=True)
        run(f"verify {len(names)} touched rows @ sf0.01",
            ["sbt", "-batch", f"runMain graft.Verify {SF} {OUT} {','.join(names)}"])
        out = run("oracle check on touched rows",
                  [sys.executable, "tools/check.py", SF, OUT, "--present-only"],
                  capture=True)
        sys.stdout.write(out[-1500:])
        m = re.search(r"== (\d+) pass, (\d+) fail ==", out)
        if not m or m.group(2) != "0":
            raise SystemExit("[precommit] RED — oracle check failed")
        # a misspelled name (or a Verify run that wrote no dumps) makes
        # --present-only skip everything and report "0 pass, 0 fail" —
        # GREEN having verified nothing. Require one pass per requested
        # name so absence is as loud as failure.
        want = len(set(names))
        if int(m.group(1)) != want:
            raise SystemExit(f"[precommit] RED — {m.group(1)} rows passed "
                             f"but {want} were requested; a name is "
                             "misspelled or its dump was not written")
    staleness_report()
    print("[precommit] GREEN — safe to commit", flush=True)


if __name__ == "__main__":
    main()
