#!/usr/bin/env python3
"""Print the size and option surface of the engine's main scope.

    python3 scripts/simplicity_counts.py            # text report
    python3 scripts/simplicity_counts.py --json     # one JSON object

Main scope is every `src/main/**/*.scala` file under the repo root (the
harness under `perfbench/` and the test scope are not counted). It prints:

- lines of code per file (physical lines, as `wc -l` counts them) and the
  total, largest file first;
- the `graft.*` keys the main scope reads (Spark conf keys and table
  properties, found as string literals), each with where it is read;
- the environment variables the main scope reads (`sys.env(...)`,
  `sys.env.get(...)`, `sys.env.getOrElse(...)`, `System.getenv(...)`);
- the metadata commit-point sites, each with its location: exclusive
  creates (`create(..., false)`), hard links (`createLink`), atomic
  replaces (`Rename.OVERWRITE`), plain renames (`fs.rename(`, which
  flags a check-then-rename claim when `exists` precedes it on the
  line) and metadata reads (`Source.fromInputStream`). One claim
  implementation shows `createLink`, `Rename.OVERWRITE` and
  `Source.fromInputStream` once each and no `create(..., false)`.

Run it at two commits to price a simplification: LoC should fall while the
key and variable lists do not grow.
"""
import argparse
import json
import pathlib
import re
import signal
import sys

KEY_RE = re.compile(r'"(graft\.[A-Za-z0-9_.]+)"')
ENV_RE = re.compile(
    r'(?:sys\.env(?:\.get|\.getOrElse)?|System\.getenv)\(\s*"([A-Za-z0-9_]+)"')
# commit-point primitives; a call may close two lines down, so each match is
# tried on a line joined with its next two and counted where it starts
_ARG = r'(?:[^()]|\((?:[^()]|\([^()]*\))*\))*'
COMMIT_RES = {
    "create(..., false)": re.compile(r'\.create\(' + _ARG + r',\s*false\s*\)'),
    "createLink": re.compile(r'\bcreateLink\('),
    "Rename.OVERWRITE": re.compile(r'Rename\.OVERWRITE'),
    "fs.rename(": re.compile(r'\bfs\.rename\('),
    "exists && rename": re.compile(r'exists\(.*&&.*\.rename\('),
    "Source.fromInputStream": re.compile(r'Source\.fromInputStream'),
}


def scan(root):
    files = sorted((root / "src" / "main").rglob("*.scala"))
    loc, keys, env = {}, {}, {}
    commits = {name: [] for name in COMMIT_RES}
    for f in files:
        rel = str(f.relative_to(root))
        text = f.read_text(encoding="utf-8")
        loc[rel] = text.count("\n") + (0 if text.endswith("\n") or not text else 1)
        lines = text.splitlines()
        for n, line in enumerate(lines, 1):
            for k in KEY_RE.findall(line):
                keys.setdefault(k, []).append(f"{rel}:{n}")
            for v in ENV_RE.findall(line):
                env.setdefault(v, []).append(f"{rel}:{n}")
            joined = " ".join([line] + [x.strip() for x in lines[n:n + 2]])
            for name, rx in COMMIT_RES.items():
                m = rx.search(joined)
                if m and m.start() < len(line):
                    commits[name].append(f"{rel}:{n}")
    return loc, keys, env, commits


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root", default=str(pathlib.Path(__file__).resolve().parent.parent),
                    help="repo root (default: this script's repo)")
    ap.add_argument("--json", action="store_true", help="print one JSON object")
    args = ap.parse_args()
    root = pathlib.Path(args.root)
    if not (root / "src" / "main").is_dir():
        sys.exit(f"no src/main under {root}")
    loc, keys, env, commits = scan(root)
    total = sum(loc.values())
    if args.json:
        print(json.dumps({"main_loc_total": total, "main_loc": loc,
                          "graft_keys": keys, "env_vars": env,
                          "commit_sites": commits}, indent=1))
        return
    print(f"main-scope LoC: {total} in {len(loc)} files")
    for rel, n in sorted(loc.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"  {n:6d}  {rel}")
    print(f"graft.* keys read: {len(keys)}")
    for k in sorted(keys):
        print(f"  {k}  ({', '.join(keys[k])})")
    print(f"environment variables read: {len(env)}")
    for v in sorted(env):
        print(f"  {v}  ({', '.join(env[v])})")
    print("metadata commit-point sites:")
    for name, sites in commits.items():
        print(f"  {name}: {len(sites)}" + (f"  ({', '.join(sites)})" if sites else ""))


if __name__ == "__main__":
    main()
