#!/usr/bin/env python3
"""Method-level census of the engine's main classes.

Lists every main method that a spec calls but no main method calls
(spec-only code), with the suites that call it. A second section lists
every defaulted parameter of a main method that every main call site
leaves at its default (an option only specs select, or a Boolean
nothing selects), with the suites that set it. With --uncalled it
also lists the main methods nothing calls at all.

The call graph is read from `javap -c -p -l` over the compiled classes,
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
    not methods to delete, and are not listed as methods. A call site
    that leaves parameter N at its default calls `m$default$N` right
    before `m`, in the same method body, so a caller method takes the
    default at every one of its sites iff it calls `m$default$N` as
    often as `m`. A case class's `new X(..)` (defaults
    `$lessinit$greater$default$N`) and `X(..)` (`apply$default$N`) are
    one constructor; the companion's own `apply` -> `<init>` forward is
    not a call site, and `copy` is not counted. Parameter names come
    from the callee's LocalVariableTable (`javap -l`).

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
DEFAULT = re.compile(r"^(.+)\$default\$(\d+)$")
# LocalVariableTable row: start, length, slot, name, signature
LVT_ROW = re.compile(r"^\s+(\d+)\s+\d+\s+(\d+)\s+(\S+)\s+(\S+)$")
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
        out.append(subprocess.run(["javap", "-c", "-p", "-l"] + files[i:i + 200],
                                  capture_output=True, text=True,
                                  check=True).stdout)
    return "\n".join(out)


def parse(text):
    """(defined methods, calls as (caller class, caller method, callee
    class, callee method), parameter lists per (class, method): one
    list of (slot, name, JVM type) per overload)."""
    cls = meth = None
    defs, calls = set(), []
    params = collections.defaultdict(list)
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
                if meth == cls.split(".")[-1].split("$")[-1]:
                    meth = "<init>"
            defs.add((cls, meth))
            params[(cls, meth)].append([])
        elif line.strip() == "LocalVariableTable:" or LVT_ROW.match(line):
            m = LVT_ROW.match(line)
            # a parameter is live from offset 0; slot order is declaration order
            if m and m.group(1) == "0" and m.group(3) != "this" and cls and meth:
                params[(cls, meth)][-1].append((int(m.group(2)), m.group(3), m.group(4)))
        else:
            m = CALL.search(line)
            if m and cls and meth:
                callee = m.group(1).replace("/", ".") if m.group(1) else cls
                calls.append((cls, meth, callee, m.group(2)))
    return defs, calls, params


def owner(meth):
    m = LAMBDA.match(meth)
    return m.group(1) if m else meth


def module(c):
    """`X$` and `X` name the same Scala object."""
    return c[:-1] if c.endswith("$") else c


def ctor(meth):
    """A case class's constructor and its companion `apply` are one."""
    return "apply" if meth in ("<init>", "$lessinit$greater") else meth


def defaults_taken(defs, main_calls, test_calls, params):
    """Defaulted parameters of main methods that every main call site
    leaves at its default, each with the suites that set it. An unset
    Boolean is a mode nothing selects and is listed too; other defaults
    nothing sets are constants and are not."""
    defaulted = set()
    for c, m in defs:
        d = DEFAULT.match(m)
        if d and d.group(1) != "copy" and c.startswith("graft."):
            defaulted.add((module(c), ctor(d.group(1)), int(d.group(2))))
    bases = {(c, m) for c, m, _ in defaulted}

    def tally(calls):
        """per caller method: calls of each defaulted method, and calls
        of each of its default getters."""
        sites = collections.defaultdict(collections.Counter)
        for cc, cm, tc, tm in calls:
            d = DEFAULT.match(tm)
            if d:
                key = (module(tc), ctor(d.group(1)), int(d.group(2)))
            else:
                key = (module(tc), ctor(tm))
                if key not in bases:
                    continue
            if module(cc) == module(tc) and (cm == tm or SYNTHETIC.match(cm)
                                             or DEFAULT.match(cm)):
                continue  # a forwarder, or the companion's own apply
            sites[(cc, cm)][key] += 1
        return sites

    main_sites, test_sites = tally(main_calls), tally(test_calls)
    out = []
    for c, m, n in sorted(defaulted):
        called = [s for s in main_sites.values() if s[(c, m)]]
        if not called or any(s[(c, m, n)] < s[(c, m)] for s in called):
            continue
        setters = sorted({module(cc).split(".")[-1].split("$")[0]
                          for (cc, _), s in test_sites.items()
                          if s[(c, m, n)] < s[(c, m)]})
        lists = [p for p in params.get((c + "$", m), []) + params.get((c, m), [])
                 + (params.get((c, "<init>"), []) if m == "apply" else [])
                 if p and not all(re.match(r"v\d+$", x) for _, x, _ in p)]
        ps = sorted(lists[0]) if lists else []
        name, jvm = ps[n - 1][1:] if n <= len(ps) else (f"#{n}", "")
        if not setters and jvm != "Z":
            continue
        out.append(f"{c}.{m}({name})  <- {', '.join(setters) or '(set by nothing)'}")
    return out


def main():
    defs, main_calls, params = parse(javap(class_files(MAIN)))
    _, test_calls, _ = parse(javap(class_files(TEST)))

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
    print("\n# defaults every main call site takes, with the suites that set them")
    for line in defaults_taken(defs, main_calls, test_calls, params):
        print(line)
    if "--uncalled" in sys.argv[1:]:
        print("\n# uncalled: no caller in main or test bytecode")
        for c, m in methods:
            if not main_callers.get((c, m)) and not test_callers.get((c, m)) \
                    and "$" not in m:
                print(f"{c}.{m}")


if __name__ == "__main__":
    main()
