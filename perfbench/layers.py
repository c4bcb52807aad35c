"""The engine's layers, and which layer a source file or a call site belongs to.

A layer is one of the engine's modules. Every file under
``src/main/scala/graft/`` belongs to exactly one layer: files in a module
directory belong to that module's layer, and the few top-level files are
named one by one. ``layer_map`` refuses a tree with a file that no rule
or two rules claim, so a new file cannot land in no layer unnoticed.
"""

import os
import re

LAYERS = ("session", "sources", "jobs", "update", "sinks", "operators", "streaming")

# (rule, layer): a rule ending in "/" claims a directory, any other rule one
# top-level file. Paths are relative to src/main/scala/graft/.
RULES = (
    ("sources/", "sources"),
    ("Tables.scala", "sources"),
    ("jobs/", "jobs"),
    ("Bench.scala", "jobs"),
    ("Verify.scala", "jobs"),
    ("Profile.scala", "jobs"),
    ("PlanDump.scala", "jobs"),
    ("update/", "update"),
    ("sinks/", "sinks"),
    ("operators/", "operators"),
    ("functions/", "operators"),
    ("expressions/", "operators"),
    ("multimodal/", "operators"),
    ("SparkEntry.scala", "operators"),
    ("streaming/", "streaming"),
    ("GraftSession.scala", "session"),
    ("GraftConfig.scala", "session"),
    ("GraftExtensions.scala", "session"),
    ("Sparks.scala", "session"),
    ("Jsons.scala", "session"),
    ("hadoop/", "session"),
    ("obs/", "session"),
)

ENGINE_SRC = os.path.join("src", "main", "scala", "graft")


def rules_for(rel_path):
    """The rules that claim one path relative to the engine's source root."""
    return [(rule, layer) for rule, layer in RULES
            if (rel_path.startswith(rule) if rule.endswith("/") else rel_path == rule)]


def layer_map(repo_root):
    """{file name: layer} for every Scala file of the engine.

    Raises ValueError when a file is claimed by no rule or by several, or
    when two files share a name (a call site names the file only)."""
    src = os.path.join(repo_root, ENGINE_SRC)
    if not os.path.isdir(src):
        raise ValueError(f"no engine sources at {src}")
    out, problems = {}, []
    for d, _, names in os.walk(src):
        for n in sorted(names):
            if not n.endswith(".scala"):
                continue
            rel = os.path.relpath(os.path.join(d, n), src).replace(os.sep, "/")
            claims = rules_for(rel)
            if len(claims) != 1:
                problems.append(f"{rel}: claimed by {len(claims)} rules {claims}")
            elif n in out:
                problems.append(f"{rel}: file name used twice")
            else:
                out[n] = claims[0][1]
    if problems:
        raise ValueError("layer map: " + "; ".join(problems))
    return out


_FRAME_FILE = re.compile(r"\(([A-Za-z0-9_$]+\.scala):\d+\)")


def layer_of_call_site(call_site, files):
    """Layer of the innermost engine frame of a Spark call site, or None.

    ``call_site`` is Spark's long call-site form: one stack frame a line,
    innermost first, e.g. ``graft.sinks.MergeSink$.mergeInto(MergeSink.scala:246)``."""
    for line in call_site.splitlines():
        m = _FRAME_FILE.search(line)
        if m and m.group(1) in files and line.strip().startswith("graft."):
            return files[m.group(1)]
    return None
