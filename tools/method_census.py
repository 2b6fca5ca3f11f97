#!/usr/bin/env python3
"""Method-level census of the engine's main classes.

Lists every main method that a spec calls but no main method calls
(spec-only code), with the suites that call it. With --uncalled it
also lists the main methods nothing calls at all.

The call graph is read from `javap -c -p` over the compiled classes,
so build first:

    sbt -batch Test/compile
    python3 tools/method_census.py [--uncalled]

How the graph is read, and the traps it handles:

  - An object's body (its query and oracle maps, say) runs in
    `static {}` of `X$`, so calls from there count as main calls:
    `PageRank.recurrenceSql` and `LinearProbe.residualOutliersSql` are
    called from nowhere else.
  - The static forwarder class `X` beside `X$` is not a caller: its
    `X.m` only forwards to `X$.m`.
  - A call inside the same class prints without a class prefix.
  - A lambda body `$anonfun$m$N` is reached through invokedynamic,
    which names no method; it counts as part of `m`.
  - Default-argument getters (`m$default$N`) are parameter defaults,
    not methods to delete, and are not listed.

What the bytecode cannot show: a method called only from generated
Java source (a codegen string) has no bytecode caller on that path,
e.g. `GramHashes.compute`, `HtmlEntityDecode.decode`,
`QuantizeMicro.quant` and `UnicodeNormalize.normalize`; methods Spark,
Hadoop or the JVM call (overrides, `main`, `SparkEntry.entry`) have
none either. Both show up only under --uncalled.
"""
import collections
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "target/scala-2.13/classes")
TEST = os.path.join(ROOT, "target/scala-2.13/test-classes")

CLASS = re.compile(r"^(?:[\w ]*?)(?:class|interface) ([\w.$]+)")
CALL = re.compile(r'// (?:Method|InterfaceMethod) (?:([\w/$]+)\.)?"?([\w$<>]+)"?:')
LAMBDA = re.compile(r"\$anonfun\$(.+?)\$\d+(\$adapted)?$")
# case-class and compiler-generated members, never written by hand
SYNTHETIC = re.compile(
    r"^(<init>|<clinit>|apply|unapply|copy.*|product.*|canEqual|equals|hashCode"
    r"|toString|fromProduct|writeReplace|readResolve|tupled|curried|_\d+)$")


def class_files(d):
    return [os.path.join(dp, f) for dp, _, fs in os.walk(d)
            for f in fs if f.endswith(".class")]


def javap(files):
    out = []
    for i in range(0, len(files), 200):
        out.append(subprocess.run(["javap", "-c", "-p"] + files[i:i + 200],
                                  capture_output=True, text=True,
                                  check=True).stdout)
    return "\n".join(out)


def parse(text):
    """(defined methods, calls as (caller class, caller method, callee
    class, callee method))."""
    cls = meth = None
    defs, calls = set(), []
    for line in text.splitlines():
        if not line.startswith(" "):
            m = CLASS.match(line)
            if m:
                cls, meth = m.group(1), None
        elif not line.startswith("   "):  # a member header
            if line.strip().endswith("static {};"):
                meth = "<clinit>"
            else:
                m = re.search(r"([\w$]+)\(", line) if line.rstrip().endswith(";") else None
                if not m:
                    continue
                meth = m.group(1)
                if meth == cls.split(".")[-1]:
                    meth = "<init>"
            defs.add((cls, meth))
        else:
            m = CALL.search(line)
            if m and cls and meth:
                callee = m.group(1).replace("/", ".") if m.group(1) else cls
                calls.append((cls, meth, callee, m.group(2)))
    return defs, calls


def owner(meth):
    m = LAMBDA.match(meth)
    return m.group(1) if m else meth


def module(c):
    """`X$` and `X` name the same Scala object."""
    return c[:-1] if c.endswith("$") else c


def main():
    defs, main_calls = parse(javap(class_files(MAIN)))
    _, test_calls = parse(javap(class_files(TEST)))

    main_callers = collections.defaultdict(set)
    for cc, cm, tc, tm in main_calls:
        if cc != tc and module(cc) == module(tc) and cm == tm:
            continue  # static forwarder
        if cc == tc and owner(cm) == tm:
            continue  # a method's own lambdas
        main_callers[(module(tc), tm)].add((module(cc), owner(cm)))
    test_callers = collections.defaultdict(set)
    for cc, _, tc, tm in test_calls:
        test_callers[(module(tc), tm)].add(module(cc).split(".")[-1].split("$")[0])

    methods = sorted({(module(c), m) for c, m in defs
                      if c.startswith(("graft.", "org.apache.spark.sql.graft."))
                      and not SYNTHETIC.match(m) and "$anonfun$" not in m
                      and "$default$" not in m})
    print("# spec-only: called by specs, by no main method")
    for c, m in methods:
        if not main_callers.get((c, m)) and test_callers.get((c, m)):
            print(f"{c}.{m}  <- {', '.join(sorted(test_callers[(c, m)]))}")
    if "--uncalled" in sys.argv[1:]:
        print("\n# uncalled: no caller in main or test bytecode")
        for c, m in methods:
            if not main_callers.get((c, m)) and not test_callers.get((c, m)) \
                    and "$" not in m:
                print(f"{c}.{m}")


if __name__ == "__main__":
    main()
