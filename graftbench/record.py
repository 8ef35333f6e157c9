"""Re-record the expectations the benchmark checks outputs against.

    python3 graftbench/record.py catalog       # data/catalog.json
    python3 graftbench/record.py llm_pipeline  # data/llm_pipeline.json

`catalog` runs every query the catalog slice can hold (Catalog.core and
Catalog.light), writing its full output to the `noop` sink, then
fingerprints it twice. It keeps the fingerprint and the layer of each
query (graft.rel, graft.ext or graft.exec, read from the module
SparkEntry calls). A query whose two fingerprints differ is left out
and listed under `unstable`.

`llm_pipeline` records the SHA-256 of every document's stub output
through both pipeline paths.

Record on the tree whose behaviour is the reference: a later change
that alters an output then reads as a failed op.
"""

import json
import os
import re
import shutil
import sys

import build
import harness

REL = ("Relational.", "Reduce.", "graft.rel.")
EXT = ("Dedup.", "Similarity.", "Linkage.", "TextAnalysis.", "Profile.",
       "Sampling.", "Multimodal.", "graft.ext.")
EXEC = ("graft.exec.",)


def layers():
    """query name -> rel|ext|exec, from the module each SparkEntry entry
    calls."""
    src = open(os.path.join(build.ROOT, "src", "main", "scala", "graft",
                            "SparkEntry.scala")).read()
    body = src[src.index("def queries"):src.index("def oracleSql")]
    out = {}
    marks = list(re.finditer(r'^\s*"(q\d+_\w+)"\s*->', body, re.M))
    for i, m in enumerate(marks):
        end = marks[i + 1].start() if i + 1 < len(marks) else len(body)
        text = body[m.end():end]
        # comments do not count
        text = "\n".join(line.split("//")[0] for line in text.splitlines())
        found = sorted((text.index(p), p) for p in REL + EXT + EXEC if p in text)
        if found:
            first = found[0][1]
            out[m.group(1)] = "rel" if first in REL else \
                "ext" if first in EXT else "exec"
    return out


def record(workload):
    classes, cp, _ = build.build()
    with harness.WorkDir() as work:
        # a private copy: a rebuild during a long recording must not
        # pull the classes out from under it
        own = os.path.join(work, "classes")
        shutil.copytree(classes, own)
        cp = [own] + cp[1:]
        out = os.path.join(work, "record.json")
        args = ["--mode", "record", "--workload", workload,
                "--data", harness.data_dir(), "--out", out]
        harness.launch(cp, work, args, timeout=3600)
        return harness.read_json(out)


def main():
    workload = sys.argv[1] if len(sys.argv) > 1 else "catalog"
    raw = record(workload)
    if workload == "catalog":
        lay = layers()
        queries, unstable, errors = {}, {}, {}
        for name, r in sorted(raw.items()):
            if "error" in r:
                errors[name] = r["error"]
            elif not r["stable"]:
                unstable[name] = [r["fingerprint"], r["fingerprint2"]]
            elif name not in lay:
                errors[name] = "layer not found in SparkEntry.scala"
            else:
                queries[name] = {"layer": lay[name],
                                 "fingerprint": r["fingerprint"]}
        doc = {"rounding": "doubles hashed as %.9e (10 significant digits)",
               "nproc": harness.nproc(), "queries": queries,
               "unstable": unstable, "errors": errors}
    else:
        doc = raw
    path = os.path.join(build.BENCH, "data", workload + ".json")
    with open(path, "w") as fh:
        if workload == "catalog":
            json.dump(doc, fh, indent=1, sort_keys=True)
        else:  # one line per document
            fh.write('{"digest": %s,\n "docs": {\n' % json.dumps(doc["digest"]))
            fh.write(",\n".join('  "%s": %s' % (k, json.dumps(doc["docs"][k]))
                                  for k in sorted(doc["docs"], key=int)))
            fh.write("\n }\n}")
        fh.write("\n")
    print("wrote %s" % path)


if __name__ == "__main__":
    main()
