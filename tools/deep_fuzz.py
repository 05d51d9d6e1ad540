"""Extended differential fuzz session: same strategies and agreement
predicate as tests/test_fuzz_differential.py, but with a configurable
example budget — run before each round snapshot to hunt parity bugs
deeper than the in-suite 400 examples.

    python tools/deep_fuzz.py [n_examples] [seed]

Exit status: 0 clean, 1 divergence, 2 not run (the reference oracle is
not importable).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tests"))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, "/root/reference")  # read-only, differential oracle only
REFERENCE_DIR = sys.path[0]


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    fuzz_seed = int(sys.argv[2]) if len(sys.argv) > 2 else 20260817

    try:
        import fastjsonschema as reference
    except ImportError:
        print(f"deep fuzz: not run: fastjsonschema not importable from "
              f"{REFERENCE_DIR}")
        return 2
    from hypothesis import HealthCheck, given, seed, settings

    import spark_schema_guard as ssg
    import test_fuzz_differential as fuzz

    failures = []

    @settings(max_examples=n, deadline=None, print_blob=False,
              suppress_health_check=list(HealthCheck))
    @seed(fuzz_seed)
    @given(schema=fuzz.schemas, data=fuzz.json_values)
    def run(schema, data):
        theirs = fuzz.run_one(reference, reference.JsonSchemaValueException,
                              reference.JsonSchemaDefinitionException,
                              schema, data)
        mine = fuzz.run_one(ssg, ssg.ValidationError,
                            ssg.SchemaDefinitionError, schema, data)
        if theirs[0] == "deferr" and mine[0] == "deferr":
            return
        if fuzz._known_divergence(schema, mine, theirs):
            return
        if mine != theirs:
            failures.append((schema, data, mine, theirs))
            raise AssertionError(f"DIVERGENCE schema={schema!r} data={data!r}\n"
                                 f"  mine  ={mine!r}\n  theirs={theirs!r}")

    run()
    print(f"deep fuzz: {n} examples, {len(failures)} divergences")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
