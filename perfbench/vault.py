"""Seeded markdown vault generator and the benchmark's own model of it.

The model is the benchmark's independent view of the vault: it holds
every file's frontmatter as Python values plus its body bytes, applies
the reference's string normalization itself (None stays NULL, a list is
JSON-encoded, a date prints as ISO, anything else is ``str()``), and
predicts every tool response and on-disk state without calling into
the program. The program sees only the files this module writes.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from pathlib import Path

import yaml

STATUSES = ["backlog", "doing", "done", "open", "review"]
AUTHORS = [f"author{i:02d}" for i in range(24)]
PROJECTS = [f"proj-{c}" for c in "bcdefghijklm"]
# tag popularity is skewed: the first tags are drawn far more often
TAG_POOL = [
    "python", "notes", "mcp", "spark", "sql", "yaml", "draft", "idea",
    "todo", "research", "meeting", "reading", "log", "ops", "infra", "web",
]
TAG_WEIGHTS = [1.0 / (i + 1) for i in range(len(TAG_POOL))]
WORDS = (
    "the a of frontmatter vault note query engine spark table column row "
    "index plan file path key value tag link page draft idea task list"
).split()
BASE_DATE = dt.date(2024, 1, 1)


def normalize(v):
    """The reference's value normalization for the all-strings table."""
    if v is None:
        return None
    if isinstance(v, list):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def _body(rng: random.Random, title: str) -> str:
    paras = []
    for _ in range(rng.randint(2, 5)):
        paras.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(12, 40))) + ".")
    return f"# {title}\n\n" + "\n\n".join(paras) + "\n"


def _frontmatter(rng: random.Random, i: int) -> dict:
    fm = {
        "title": f"Note {i}",
        "status": rng.choice(STATUSES),
        "priority": rng.randint(1, 5),
        "date": BASE_DATE + dt.timedelta(days=rng.randrange(730)),
        "author": rng.choice(AUTHORS),
        "rating": round(rng.uniform(0, 10), 1),
        "draft": rng.random() < 0.3,
    }
    # tags: 1-4 distinct, drawn with a skewed popularity, in draw order
    tags: list[str] = []
    n_tags = rng.randint(1, 4)
    while len(tags) < n_tags:
        t = rng.choices(TAG_POOL, TAG_WEIGHTS)[0]
        if t not in tags:
            tags.append(t)
    fm["tags"] = tags
    # optional keys make nullable columns
    if rng.random() < 0.6:
        fm["project"] = rng.choice(PROJECTS)
    if rng.random() < 0.3:
        fm["due"] = BASE_DATE + dt.timedelta(days=rng.randrange(730))
    if rng.random() < 0.2:
        fm["aliases"] = [f"n{i}", f"note-{i}"]
    return fm


def render(fm: dict, body: str) -> str:
    text = yaml.safe_dump(fm, default_flow_style=False, allow_unicode=True, sort_keys=False)
    return f"---\n{text}---\n\n{body}"


def split_raw(text: str) -> tuple[str, str]:
    """(frontmatter yaml, body) of a file as written by ``render`` or by
    the program's rewrite: ``---\\n<yaml>---\\n\\n<body>``."""
    if not text.startswith("---\n"):
        raise ValueError("no frontmatter block")
    end = text.index("\n---\n", 3)
    rest = text[end + 5 :]
    if not rest.startswith("\n"):
        raise ValueError("no blank line after the frontmatter block")
    return text[4 : end + 1], rest[1:]


class Vault:
    """A generated vault on disk plus the model of its contents."""

    def __init__(self, root: Path, n_files: int, areas: int, topics: int, seed: int) -> None:
        self.root = root
        self.files: dict[str, dict] = {}
        self.bodies: dict[str, str] = {}
        rng = random.Random(seed)
        root.mkdir(parents=True, exist_ok=True)
        for i in range(n_files):
            rel = f"area{i % areas:02d}/topic{(i // areas) % topics:02d}/note{i:05d}.md"
            fm = _frontmatter(rng, i)
            body = _body(rng, fm["title"])
            p = root / rel
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_text(render(fm, body), encoding="utf-8")
            self.files[rel] = fm
            self.bodies[rel] = body

    # -- model queries ----------------------------------------------------
    def matching(self, prefix: str) -> list[str]:
        return sorted(r for r in self.files if r.startswith(prefix))

    def keys(self) -> list[str]:
        return sorted({k for fm in self.files.values() for k in fm})

    def rows(self) -> list[dict]:
        keys = [k for k in self.keys() if k != "path"]
        return [
            {"path": rel, **{k: normalize(fm.get(k)) for k in keys}}
            for rel, fm in self.files.items()
        ]

    def schema(self) -> dict:
        """query_inspect's schema: type array iff some value is a list,
        nullable iff some file lacks the key, examples the five smallest
        distinct normalized values."""
        out = {"path": {"type": "string", "nullable": False}}
        n = len(self.files)
        for k in self.keys():
            vals = [fm[k] for fm in self.files.values() if k in fm]
            present = [v for v in vals if v is not None]
            out[k] = {
                "type": "array" if any(isinstance(v, list) for v in vals) else "string",
                "nullable": len(present) < n,
                "examples": sorted({normalize(v) for v in present})[:5],
            }
        return out

    # -- model mutations (the reference's semantics) -----------------------
    def update(self, rel: str, set_: dict | None, unset: list | None) -> bool:
        fm = self.files[rel]
        for k, v in (set_ or {}).items():
            if k not in (unset or []):
                fm[k] = v
        for k in unset or []:
            fm.pop(k, None)
        return True  # every processed file counts as updated

    def array_op(self, rel: str, prop: str, op: str, **kw) -> bool:
        fm = self.files[rel]
        cur = fm.get(prop)
        if op == "add":
            if cur is None:
                new = [kw["value"]]
            elif kw["value"] in cur and not kw.get("allow_duplicates"):
                return False
            else:
                new = cur + [kw["value"]]
        elif cur is None:
            return False
        elif op == "remove":
            if kw["value"] not in cur:
                return False
            new = list(cur)
            new.remove(kw["value"])
        elif op == "replace":
            if kw["old_value"] not in cur:
                return False
            new = list(cur)
            new[new.index(kw["old_value"])] = kw["new_value"]
        elif op == "sort":
            new = sorted(cur)
            if len(cur) <= 1 or new == cur:
                return False
        elif op == "unique":
            new = list(dict.fromkeys(cur))
            if new == cur:
                return False
        else:
            raise ValueError(op)
        fm[prop] = new
        return True

    # -- independent on-disk check ----------------------------------------
    def check_on_disk(self, rels) -> list[str]:
        """Re-read each file with yaml.safe_load directly and compare its
        frontmatter with the model and its body bytes with the original."""
        problems = []
        for rel in rels:
            fm_text, body = split_raw((self.root / rel).read_text(encoding="utf-8"))
            loaded = yaml.safe_load(fm_text)
            if loaded != self.files[rel]:
                problems.append(f"{rel}: frontmatter {loaded!r} != model {self.files[rel]!r}")
            if body != self.bodies[rel]:
                problems.append(f"{rel}: body bytes changed")
        return problems
