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
  `Source.fromInputStream` once each and no `create(..., false)`;
- the codes-tier literal sites: main-scope code lines (comments
  skipped) that spell a compressed tier's marker kind or dir names
  (`"_pq"`, `"_sq8"`, `pqcodes`, `pqbooks`, `sq8codes`), each with its
  location. With one codes-tier body these are only the lines of the
  two tier values in `IvfIndex`;
- the spec-only surface: main-scope `def`s and `object`s whose every
  reference outside their own definition line is under `src/test` or
  inside another spec-only member (or that nothing references at all),
  each with its location and the spec files that use it. An object with
  a `main` counts as used when a script, the README, `build.sbt` or the
  verify note names it. These are deletion candidates: grep before
  deleting one;
- the harness-pinned API: every `graft` name the benchmark harness
  (`perfbench/src`) calls, with where it calls it. Removing or
  renaming one of these breaks the harness build, and with it every
  benchmark run.

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


# names of the compressed codes tiers; a code line spelling one names a tier
TIER_RE = re.compile(r'"_pq"|"_sq8"|pqcodes|pqbooks|sq8codes')


def tier_sites(root):
    """Locations of main-scope code lines (comments skipped, string
    literals kept) that spell a codes tier's marker kind or dir names."""
    sites = []
    for f in sorted((root / "src" / "main").rglob("*.scala")):
        rel = str(f.relative_to(root))
        for n, line in code_lines(f, keep_strings=True):
            if TIER_RE.search(line):
                sites.append(f"{rel}:{n}")
    return sites


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


# a definition: modifiers, then `def name` or `object name`; plain
# `private` (callable only inside its own scope) and `override` are not
# API surface, nor are the JVM entry points and Object members below
DEF_RE = re.compile(
    r'^\s*((?:(?:private|protected)\[\w+\]\s+|final\s+|implicit\s+|'
    r'case\s+|lazy\s+|private\s+|protected\s+|override\s+)*)'
    r'(def|object)\s+([A-Za-z_][A-Za-z0-9_]*)')
NOT_SURFACE = {"main", "apply", "unapply", "toString", "equals",
               "hashCode"}
def code_lines(path, keep_strings=False):
    """(line number, code text) of a Scala file, with comments and the
    contents of string literals (triple-quoted ones too) blanked out, so
    that a scaladoc link or a SQL string naming a function is not a
    reference. `keep_strings` keeps single-line string literals whole."""
    out, mode = [], None  # None, "block", '"""'
    for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1):
        text, i = [], 0
        while i < len(line):
            if mode == "block":
                j = line.find("*/", i)
                mode, i = (mode, len(line)) if j < 0 else (None, j + 2)
            elif mode == '"""':
                j = line.find('"""', i)
                mode, i = (mode, len(line)) if j < 0 else (None, j + 3)
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                mode, i = "block", i + 2
            elif line.startswith('"""', i):
                text.append('""')
                mode, i = '"""', i + 3
            elif line[i] == '"':
                j = i + 1
                while j < len(line) and line[j] != '"':
                    j += 2 if line[j] == "\\" else 1
                text.append(line[i:j + 1] if keep_strings else '""')
                i = j + 1
            else:
                text.append(line[i])
                i += 1
        out.append((n, "".join(text)))
    return out


def scala_files(root, *parts):
    base = root.joinpath(*parts)
    return sorted(base.rglob("*.scala")) if base.is_dir() else []


# a member of a top-level object starts at indent 2; its lines run to
# the next member, and a reference on them belongs to that member
MEMBER_RE = re.compile(
    r'^  (?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|implicit\s+|'
    r'case\s+|lazy\s+|override\s+|sealed\s+|abstract\s+)*'
    r'(?:def|val|var|object|class|trait|type)\s+([A-Za-z_]\w*)')
# where an entry point (an object with a `main`) counts as used
RUN_DOCS = ("README.md", "build.sbt", ".claude/skills/verify/SKILL.md",
            "perfbench/run.py", "scripts")


def spec_only(root):
    """Main-scope defs and objects that only specs reference. A main
    reference inside a member that is itself spec-only does not count,
    so a helper only such members call is listed too. An object with a
    `main` is an entry point: listed only if no script, README, build or
    verify note names it."""
    main = {f: code_lines(f) for f in scala_files(root, "src", "main")}
    others = {f: code_lines(f) for f in
              scala_files(root, "src", "test") +
              scala_files(root, "perfbench", "src")}
    defs, entry = {}, set()
    owner = {}  # (file, line) -> enclosing member name, main scope only
    for f, lines in main.items():
        cur = top = None
        for n, text in lines:
            m = re.match(r'(?:(?:case|final|sealed|abstract)\s+)*'
                         r'(?:object|class|trait)\s+([A-Za-z_]\w*)', text)
            if m:
                top = m.group(1)
            m = MEMBER_RE.match(text) or m
            if m:
                cur = m.group(1)
            owner[(f, n)] = cur
            m = DEF_RE.match(text)
            # top-level objects and their members only; a local def is
            # not surface
            if not m or len(text) - len(text.lstrip()) not in (0, 2):
                continue
            if m.group(3) == "main":
                entry.add(top)
            mods = m.group(1).split()
            if (m.group(3) in NOT_SURFACE or "override" in mods or
                    "private" in mods or "protected" in mods):
                continue
            defs.setdefault(m.group(3), []).append((f, n))
    run_text = ""
    for d in RUN_DOCS:
        q = root / d
        for g in ([q] if q.is_file() else sorted(q.glob("*")) if q.is_dir() else []):
            if g.is_file():
                run_text += g.read_text(encoding="utf-8", errors="replace")
    words = re.compile(r'[A-Za-z_][A-Za-z0-9_]*')
    refs = {}  # name -> [(file, line, owner)], definition lines excluded
    for f, lines in list(main.items()) + list(others.items()):
        for n, text in lines:
            for w in set(words.findall(text)):
                if w in defs and (f, n) not in defs[w]:
                    refs.setdefault(w, []).append((f, n, owner.get((f, n))))
    test_dir = root / "src" / "test"
    # greatest fixpoint: drop a name once some reference comes from a
    # main member that is not itself (still) a candidate
    cand = {name for name in defs
            if not (name in entry and re.search(r'\b%s\b' % name, run_text))}
    changed = True
    while changed:
        changed = False
        for name in sorted(cand):
            if any(test_dir not in f.parents and o != name and o not in cand
                   for f, _, o in refs.get(name, [])):
                cand.discard(name)
                changed = True
    out = []
    for name in sorted(cand):
        users = refs.get(name, [])
        specs = sorted({str(f.relative_to(root))
                        for f, _, _ in users if test_dir in f.parents})
        for f, n in defs[name]:
            out.append({"name": name, "at": f"{f.relative_to(root)}:{n}",
                        "spec_users": specs,
                        "main_users": "only spec-only members" if users
                        else "no reference"})
    return out


def harness_pinned(root):
    """Every graft name perfbench/src calls: `Object.member` for the
    graft objects it names, and the bare graft types it uses."""
    tops = {}  # top-level name -> package
    for f in scala_files(root, "src", "main"):
        pkg = None
        for _, text in code_lines(f):
            m = re.match(r'\s*package\s+([\w.]+)', text)
            if m:
                pkg = m.group(1)
            m = re.match(r'(?:(?:final|sealed|case|abstract)\s+)*'
                         r'(?:object|class|trait)\s+([A-Za-z_]\w*)', text)
            if m and pkg:
                tops.setdefault(m.group(1), pkg)
    pinned = {}
    for f in scala_files(root, "perfbench", "src"):
        rel = str(f.relative_to(root))
        lines = code_lines(f)
        wild, named = set(), set()
        for _, text in lines:
            m = re.match(r'\s*import\s+(graft[\w.]*)\.(_|\{[^}]*\}|\w+)', text)
            if m:
                sel = m.group(2)
                if sel == "_":
                    wild.add(m.group(1))
                else:
                    named.update(x.strip().split(" ")[0]
                                 for x in sel.strip("{}").split(","))
        visible = {t for t, p in tops.items() if p in wild or t in named}
        for n, text in lines:
            if text.lstrip().startswith("import "):
                continue
            for m in re.finditer(r'(?<![\w.])(?:(graft(?:\.\w+)*)\.)?'
                                 r'([A-Z]\w*)(?:\.([a-zA-Z_]\w*))?', text):
                qual, top, member = m.groups()
                if top not in tops or not (qual or top in visible):
                    continue
                name = f"{tops[top]}.{top}" + (f".{member}" if member else "")
                pinned.setdefault(name, []).append(f"{rel}:{n}")
    return pinned


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
    tiers = tier_sites(root)
    only_specs = spec_only(root)
    pinned = harness_pinned(root)
    if args.json:
        print(json.dumps({"main_loc_total": total, "main_loc": loc,
                          "graft_keys": keys, "env_vars": env,
                          "commit_sites": commits,
                          "codes_tier_sites": tiers,
                          "spec_only": only_specs,
                          "harness_pinned": pinned}, indent=1))
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
    print(f"codes-tier literal sites: {len(tiers)}" +
          (f"  ({', '.join(tiers)})" if tiers else ""))
    print(f"spec-only surface (main-scope defs/objects only specs use): {len(only_specs)}")
    for d in only_specs:
        users = ", ".join(d["spec_users"]) or d["main_users"]
        print(f"  {d['name']}  {d['at']}  ({users})")
    print(f"harness-pinned API (graft names perfbench/src calls): {len(pinned)}")
    for name in sorted(pinned):
        print(f"  {name}  ({', '.join(pinned[name])})")


if __name__ == "__main__":
    main()
