"""Seeded text corpus for the Engine workloads, and the outputs a correct
job must produce on it, computed here single-threaded and independently of
the program.

The corpus has a Zipf-skewed vocabulary, mixed case, tabs, brackets, runs of
separators and empty lines, so the word-count mapper's split and lowercase
rules are all exercised. About 5 % of lines carry a form of the grep term.
"""
import collections
import json
import random
import re
import shutil
from pathlib import Path

FILES = 8
LINES = 64_000
VOCAB = 30_000
ZIPF_S = 1.05
GREP_TERM = "product"
GREP_FORMS = ["product", "Product", "PRODUCT", "products", "byproduct", "Productivity"]
GREP_SHARE = 0.05
REDUCERS = 4
KEEP_SEEDS = 4  # corpora kept on disk for reuse by later runs

# Java's String.trim strips every character up to U+0020
TRIM = "".join(chr(c) for c in range(33))
WC_SPLIT = re.compile(r"[ \t\[\]]")


def _vocabulary(rng):
    """Distinct random words in Zipf rank order. A word's length depends on
    its rank only, so every seed yields a corpus of about the same bytes."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    words, seen = [], set()
    for r in range(VOCAB):
        n = 3 + (r * 7) % 9
        w = "".join(rng.choice(letters) for _ in range(n))
        while w in seen or GREP_TERM in w:
            w = "".join(rng.choice(letters) for _ in range(n))
        seen.add(w)
        words.append(w)
    return words


def _lines(rng):
    vocab = _vocabulary(rng)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(vocab))]
    lengths = [0 if rng.random() < 0.04 else rng.randint(1, 24) for _ in range(LINES)]
    words = iter(rng.choices(vocab, cum_weights=list(_cumulate(weights)), k=sum(lengths)))
    for n in lengths:
        toks = []
        for _ in range(n):
            w = next(words)
            r = rng.random()
            if r < 0.12:
                w = w.capitalize()
            elif r < 0.15:
                w = w.upper()
            elif r < 0.18:
                w = "[" + w + "]"
            toks.append(w)
        if n and rng.random() < GREP_SHARE:
            toks.insert(rng.randrange(n + 1), rng.choice(GREP_FORMS))
        line = ""
        for i, t in enumerate(toks):
            if i:
                r = rng.random()
                line += "\t" if r < 0.05 else "  " if r < 0.08 else " "
            line += t
        if line and rng.random() < 0.03:
            line = " " + line + " "
        yield line


def _cumulate(xs):
    total = 0.0
    for x in xs:
        total += x
        yield total


def expected_wc(lines):
    """wc_map + wc_reduce: token -> count, tokens lowercased and split on
    space, tab and both brackets, empty tokens kept."""
    counts = collections.Counter()
    for line in lines:
        counts.update(WC_SPLIT.split(line.lower()))
    return counts


def expected_grep(lines, reducers=REDUCERS):
    """grep_map, the rank-mod router and grep_reduce: the bytes of each
    outputfileNN. Distinct mapped lines are ranked in sorted order (a line
    sorts with its newline), line rank r goes to reducer r % reducers, and
    each reducer sees its lines sorted."""
    mapped = []
    for line in lines:
        s = line.strip(TRIM)
        if s and GREP_TERM in s.lower():
            mapped.append("1\t" + s)
    rank = {l: i for i, l in enumerate(sorted(set(mapped), key=lambda l: l + "\n"))}
    buckets = [[] for _ in range(reducers)]
    for l in mapped:
        buckets[rank[l] % reducers].append(l)
    files = []
    for b in buckets:
        out = []
        for l in sorted(b, key=lambda l: l + "\n"):
            parts = l.strip(TRIM).split("\t")
            if len(parts) == 2:
                out.append(parts[1] + "\n")
        files.append("".join(out))
    return files


def prepare(root, seed):
    """Write the corpus for `seed` under `root` (once) and return
    (input directory, expected word counts, expected grep files)."""
    base = Path(root) / f"seed-{seed}"
    stamp = base / "expected.json"
    if not stamp.is_file():
        for old in sorted(Path(root).glob("seed-*"), key=lambda p: p.stat().st_mtime)[:-KEEP_SEEDS]:
            shutil.rmtree(old, ignore_errors=True)
        lines = list(_lines(random.Random(seed)))
        inp = base / "input"
        inp.mkdir(parents=True, exist_ok=True)
        per = -(-len(lines) // FILES)
        for i in range(FILES):
            (inp / f"file{i + 1:02d}").write_text(
                "".join(l + "\n" for l in lines[i * per:(i + 1) * per]), encoding="utf-8")
        tmp = base / "expected.json.tmp"
        tmp.write_text(json.dumps({"wc": expected_wc(lines), "grep": expected_grep(lines)}), encoding="utf-8")
        tmp.replace(stamp)
    exp = json.loads(stamp.read_text(encoding="utf-8"))
    return str(base / "input"), exp["wc"], exp["grep"]


def check_wc(out_dir, expected, reducers=REDUCERS):
    """Empty string if the job's outputfileNN files hold exactly the expected
    counts, each file sorted and each key in one file; else the first fault."""
    files = sorted(Path(out_dir).glob("outputfile*"))
    if len(files) != reducers:
        return f"{len(files)} output files, expected {reducers}"
    seen = {}
    for f in files:
        text = f.read_text(encoding="utf-8")
        if text and not text.endswith("\n"):
            return f"{f.name}: unterminated last line"
        prev = None
        for line in text.splitlines():
            parts = line.split("\t")
            if len(parts) != 2 or not parts[1].isdigit():
                return f"{f.name}: malformed line {line!r}"
            key = parts[0]
            if key in seen:
                return f"key {key!r} appears twice"
            if prev is not None and key + "\t" <= prev + "\t":
                return f"{f.name}: {key!r} out of order after {prev!r}"
            seen[key] = int(parts[1])
            prev = key
    if seen != expected:
        missing = set(expected) - set(seen)
        wrong = [k for k in expected if k in seen and seen[k] != expected[k]]
        return f"counts differ: {len(missing)} keys missing, {len(set(seen) - set(expected))} extra, {len(wrong)} wrong"
    return ""


def check_grep(out_dir, expected):
    """Empty string if every outputfileNN matches the expected bytes."""
    files = sorted(Path(out_dir).glob("outputfile*"))
    if len(files) != len(expected):
        return f"{len(files)} output files, expected {len(expected)}"
    for f, want in zip(files, expected):
        if f.read_bytes() != want.encode("utf-8"):
            return f"{f.name} differs from the expected rank-mod routing"
    return ""
