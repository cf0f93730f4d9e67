"""Seeded input generators for the benchmark.

Everything a run feeds the program is made here from `--seed`: the sample
of the corpus that is indexed, the query parameters (misses included), the
c1 -> c2 edit commit of the update pass, the analytics source and landmarks,
and the nodes the staged writes patch. The program under test receives only
these generated inputs. The same seed gives byte-identical inputs;
`tests/test_gen.py` holds that.
"""
import ast
import hashlib
import json
import os
import random
import re
import shutil
import subprocess

CORPUS = "/usr/lib/python3.11"

# The corpus the benchmark is defined on. A different tree would silently
# change every figure, so a mismatch stops the run instead.
EXPECTED_FINGERPRINT = {
    "files": 668,
    "bytes": 11274102,
    "lines": 304003,
    "listing_sha256":
        "3a8fbc2edcb82f697fdf2d6b287d0d251e5fd00a1a37a1adc98d81f626102aa6",
}

# Sample size. Whole top-level modules and packages are sampled, so imports
# between the sampled modules resolve and enrichment has real work. The file
# count is exact so that files/s compares across seeds; lines and `def` or
# `class` statements stay within narrow bands, so that the graph, and with
# it every op's cost, is of one size whatever the seed.
SAMPLE_FILES = 40
SAMPLE_LINES = (21000, 24000)
SAMPLE_DEFS = (1380, 1500)
DEF = re.compile(rb"^[ \t]*(?:async[ \t]+)?(?:def|class)[ \t]", re.M)
# A file larger than this makes one unit dominate the op time.
MAX_FILE_LINES = 4000

TASK = "v1"

# Query mix: each block of 12 ops holds these counts, in a seeded order, so
# every stretch of a run has the same composition. 8 of 12 (67%) are point
# or 1-hop shapes.
SHAPES = [
    ("point", 3),
    ("label_prop", 1),
    ("members", 2),
    ("expand", 2),
    ("var_call", 1),
    ("shortest", 1),
    ("agg_top", 1),
    ("methods_hydrated", 1),
]
POOL = 30          # parameters per shape
MISS_EVERY = 10    # one parameter in ten names nothing in the graph
MIX_LEN = 4000     # ops in the generated sequence (runs cycle through it)
LANDMARKS = 4      # betweenness sources in the traced analytics pass
EDIT_FILES = 10    # files the c1 -> c2 edit commit touches
UPSERTS = 100      # staged writes committed after the update


def python_files(root):
    out = []
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for f in files:
            if f.endswith(".py"):
                out.append(os.path.relpath(os.path.join(d, f), root))
    return sorted(out)


def fingerprint(root=CORPUS):
    files = python_files(root)
    size = lines = 0
    for f in files:
        with open(os.path.join(root, f), "rb") as fh:
            data = fh.read()
        size += len(data)
        lines += data.count(b"\n")
    listing = hashlib.sha256("\n".join(files).encode()).hexdigest()
    return {"files": len(files), "bytes": size, "lines": lines,
            "listing_sha256": listing}


def check_corpus(root=CORPUS):
    """Return the fingerprint, or raise SystemExit with a clear message."""
    if not os.path.isdir(root):
        raise SystemExit(f"corpus {root} is absent; the benchmark is "
                         "defined on it and reports nothing without it")
    fp = fingerprint(root)
    if fp != EXPECTED_FINGERPRINT:
        raise SystemExit(f"corpus {root} differs from the one the benchmark "
                         f"is defined on: found {fp}, expected "
                         f"{EXPECTED_FINGERPRINT}")
    return fp


def units(root):
    """Top-level modules and packages, each with its .py files."""
    out = []
    for e in sorted(os.listdir(root)):
        p = os.path.join(root, e)
        if e.endswith(".py") and os.path.isfile(p):
            out.append((e, [e]))
        elif os.path.isdir(p) and e.isidentifier():
            fs = [os.path.join(e, f) for f in python_files(p)]
            if fs:
                out.append((e, fs))
    return out


def _sizes(root, rel):
    with open(os.path.join(root, rel), "rb") as fh:
        data = fh.read()
    return data.count(b"\n"), len(DEF.findall(data))


def sample(root, seed):
    """A seeded set of whole units with exactly SAMPLE_FILES files, and lines
    and definitions within their bands."""
    sized = []
    for name, fs in units(root):
        sz = [_sizes(root, f) for f in fs]
        if max(l for l, _ in sz) <= MAX_FILE_LINES:
            sized.append((fs, sum(l for l, _ in sz), sum(d for _, d in sz)))
    lo, hi = SAMPLE_LINES
    for attempt in range(10000):
        rng = random.Random(f"sample:{seed}:{attempt}")
        order = sized[:]
        rng.shuffle(order)
        files, lines, defs = [], 0, 0
        for fs, ls, ds in order:
            if len(files) + len(fs) <= SAMPLE_FILES and lines + ls <= hi:
                files += fs
                lines += ls
                defs += ds
            if len(files) == SAMPLE_FILES:
                break
        if (len(files) == SAMPLE_FILES and lines >= lo
                and SAMPLE_DEFS[0] <= defs <= SAMPLE_DEFS[1]):
            return sorted(files), lines
    raise SystemExit(f"no sample of {SAMPLE_FILES} files within {SAMPLE_LINES} "
                     f"lines and {SAMPLE_DEFS} definitions for seed {seed}")


def module_name(rel):
    mod = rel[:-3].replace(os.sep, ".")
    return mod[: -len(".__init__")] if mod.endswith(".__init__") else mod


def _has_call(fn):
    return any(isinstance(n, ast.Call) for n in ast.walk(fn))


def symbols(root, files):
    """Names the query parameters draw from, read with Python's own parser."""
    mods, classes, methods_of, defs, callers = [], [], {}, [], []
    for rel in files:
        try:
            with open(os.path.join(root, rel), "rb") as fh:
                tree = ast.parse(fh.read())
        except (SyntaxError, ValueError):
            continue
        mod = module_name(rel)
        mods.append(mod)
        defs.append(mod)
        for node in tree.body:
            if isinstance(node, ast.ClassDef):
                cls = f"{mod}.{node.name}"
                classes.append(cls)
                defs.append(cls)
                ms = [b for b in node.body
                      if isinstance(b, (ast.FunctionDef, ast.AsyncFunctionDef))]
                methods_of[cls] = len(ms)
                for m in ms:
                    defs.append(f"{cls}.{m.name}")
                    if _has_call(m):
                        callers.append(f"{cls}.{m.name}")
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.append(f"{mod}.{node.name}")
                if _has_call(node):
                    callers.append(f"{mod}.{node.name}")
    with_methods = [c for c in classes if methods_of[c] > 0]
    return {"modules": sorted(set(mods)), "classes": sorted(set(classes)),
            "with_methods": sorted(set(with_methods)),
            "defs": sorted(set(defs)), "callers": sorted(set(callers))}


def _pool(rng, names, miss):
    picked = [rng.choice(names) for _ in range(POOL)]
    for i in range(0, POOL, MISS_EVERY):
        picked[i] = miss(picked[i])
    return picked


def queries(syms, seed):
    rng = random.Random(f"queries:{seed}")
    short = lambda fn: fn.rsplit(".", 1)[-1]
    top = sorted({m.split(".")[0] + "." for m in syms["modules"]})
    pools = {
        "point": _pool(rng, syms["defs"], lambda k: k + "_absent"),
        "label_prop": _pool(rng, [short(c) for c in syms["classes"]],
                            lambda k: "Absent" + k),
        "members": _pool(rng, syms["modules"], lambda k: k + ".absent_mod"),
        "expand": _pool(rng, syms["classes"], lambda k: k + "Absent"),
        "var_call": _pool(rng, syms["callers"], lambda k: k + "_absent"),
        "shortest": _pool(rng, syms["callers"], lambda k: k + "_absent"),
        "agg_top": _pool(rng, top, lambda k: "absent_" + k),
        "methods_hydrated": _pool(rng, syms["with_methods"],
                                  lambda k: k + "Absent"),
    }
    block = [s for s, n in SHAPES for _ in range(n)]
    mix = []
    while len(mix) < MIX_LEN:
        rng.shuffle(block)
        mix += [[shape, rng.randrange(POOL)] for shape in block]
    return pools, mix


def analytics(syms, seed):
    """BFS source and betweenness landmarks for the traced analytics pass."""
    rng = random.Random(f"analytics:{seed}")
    return {"source": rng.choice(syms["callers"]),
            "landmarks": rng.sample(syms["callers"], LANDMARKS)}


EDIT_KINDS = ("add_method", "remove_method", "rename_method", "change_base",
              "add_import")


def _methods(cls):
    return [b for b in cls.body
            if isinstance(b, (ast.FunctionDef, ast.AsyncFunctionDef))]


def _edit(kind, mod, lines, tree, rng, n):
    """Apply one edit to a module's lines; return (lines, added, removed,
    inherits) or None when the module offers no place for it."""
    # classes whose body starts on its own line, so a method can be added
    classes = [c for c in tree.body
               if isinstance(c, ast.ClassDef) and c.body[0].lineno > c.lineno]
    if kind == "add_method":
        if not classes:
            return None
        cls = rng.choice(classes)
        ind = " " * cls.body[0].col_offset
        new = f"perfbench_added_{n}"
        body = [f"{ind}def {new}(self):\n", f"{ind}    return {n}\n"]
        end = cls.end_lineno
        return (lines[:end] + body + lines[end:], [f"{mod}.{cls.name}.{new}"], [], [])
    if kind == "remove_method":
        cands = [(c, m) for c in classes for m in _methods(c) if len(c.body) >= 2]
        if not cands:
            return None
        cls, m = rng.choice(cands)
        if sum(x.name == m.name for x in _methods(cls)) > 1:
            return None
        start = min([m.lineno] + [d.lineno for d in m.decorator_list])
        return (lines[:start - 1] + lines[m.end_lineno:], [],
                [f"{mod}.{cls.name}.{m.name}"], [])
    if kind == "rename_method":
        cands = [(c, m) for c in classes for m in _methods(c)
                 if f"def {m.name}(" in lines[m.lineno - 1]
                 and sum(x.name == m.name for x in _methods(c)) == 1]
        if not cands:
            return None
        cls, m = rng.choice(cands)
        new = f"{m.name}_renamed_{n}"
        out = lines[:]
        out[m.lineno - 1] = out[m.lineno - 1].replace(f"def {m.name}(", f"def {new}(", 1)
        return (out, [f"{mod}.{cls.name}.{new}"], [f"{mod}.{cls.name}.{m.name}"], [])
    if kind == "change_base":
        cands = [(c, b) for i, c in enumerate(classes) for b in classes[:i]
                 if not c.bases and not c.keywords and not c.decorator_list
                 and lines[c.lineno - 1].rstrip().endswith(f"class {c.name}:")]
        if not cands:
            return None
        cls, base = rng.choice(cands)
        out = lines[:]
        out[cls.lineno - 1] = out[cls.lineno - 1].replace(
            f"class {cls.name}:", f"class {cls.name}({base.name}):", 1)
        return (out, [], [], [[f"{mod}.{cls.name}", f"{mod}.{base.name}"]])
    if kind == "add_import":
        imports = [n for n in tree.body if isinstance(n, (ast.Import, ast.ImportFrom))]
        if not imports:
            return None
        end = imports[-1].end_lineno
        return (lines[:end] + ["import json as perfbench_json\n"] + lines[end:], [], [], [])
    raise ValueError(kind)


def edits(root, files, seed):
    """The c1 -> c2 edit commit: EDIT_FILES files, each with one edit, the
    kinds taken in turn. Each edited file still parses."""
    rng = random.Random(f"edits:{seed}")
    order = files[:]
    rng.shuffle(order)
    changed, added, removed, inherits = {}, [], [], []
    for rel in order:
        if len(changed) == EDIT_FILES:
            break
        with open(os.path.join(root, rel), encoding="utf-8", errors="surrogateescape") as fh:
            text = fh.read()
        try:
            tree = ast.parse(text)
        except SyntaxError:
            continue
        kind = EDIT_KINDS[len(changed) % len(EDIT_KINDS)]
        done = _edit(kind, module_name(rel), text.splitlines(keepends=True), tree,
                     rng, len(changed))
        if done is None:
            continue
        out, a, r, i = done
        new = "".join(out)
        try:
            ast.parse(new)
        except SyntaxError:
            continue
        changed[rel] = new
        added += a
        removed += r
        inherits += i
    return changed, {"added": added, "removed": removed, "inherits": inherits}


def _git(repo, *args):
    env = dict(os.environ, GIT_AUTHOR_NAME="perfbench", GIT_AUTHOR_EMAIL="perfbench@localhost",
               GIT_COMMITTER_NAME="perfbench", GIT_COMMITTER_EMAIL="perfbench@localhost",
               GIT_AUTHOR_DATE="2000-01-01T00:00:00Z", GIT_COMMITTER_DATE="2000-01-01T00:00:00Z",
               GIT_CONFIG_NOSYSTEM="1", HOME=repo)
    return subprocess.run(["git", *args], cwd=repo, env=env, check=True,
                          capture_output=True, text=True).stdout.strip()


def git_repo(root, files, changed, repo):
    """A git repository of the sample: commit c1, then the edit commit c2;
    the working tree is left at c2. Fixed identities and dates make the
    commit ids a function of the content."""
    shutil.rmtree(repo, ignore_errors=True)
    for rel in files:
        dst = os.path.join(repo, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(os.path.join(root, rel), dst)
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-q", "-m", "c1")
    c1 = _git(repo, "rev-parse", "HEAD")
    for rel, text in changed.items():
        with open(os.path.join(repo, rel), "w", encoding="utf-8", errors="surrogateescape") as fh:
            fh.write(text)
    _git(repo, "add", "-A")
    _git(repo, "commit", "-q", "-m", "c2")
    return c1, _git(repo, "rev-parse", "HEAD")


def upserts(syms, seed):
    """Existing nodes the staged batch patches with `updateNode`."""
    rng = random.Random(f"upserts:{seed}")
    return rng.sample(syms["defs"], UPSERTS // 5)


def generate(seed, out_dir, root=CORPUS):
    """Write the inputs of one run under out_dir; return the inputs dict."""
    files, lines = sample(root, seed)
    repo = os.path.join(out_dir, "repo")
    shutil.rmtree(repo, ignore_errors=True)
    src_bytes = 0
    for rel in files:
        dst = os.path.join(repo, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(os.path.join(root, rel), dst)
        src_bytes += os.path.getsize(dst)
    syms = symbols(root, files)
    pools, mix = queries(syms, seed)
    changed, expect = edits(root, files, seed)
    c1, c2 = git_repo(root, files, changed, os.path.join(out_dir, "git"))
    inputs = {"seed": seed, "task": TASK, "repo": "repo",
              "update": {"git": "git", "c1": c1, "c2": c2,
                         "changed": sorted(changed), **expect,
                         "patched": upserts(syms, seed), "staged": UPSERTS},
              "files": files, "src_bytes": src_bytes, "src_lines": lines,
              "pools": pools, "mix": mix, "analytics": analytics(syms, seed)}
    with open(os.path.join(out_dir, "inputs.json"), "w") as fh:
        json.dump(inputs, fh, sort_keys=True, indent=0)
    return inputs
