#!/bin/sh
# Pre-commit gate — the round-2/round-3 postmortem defense.
#
# Two consecutive rounds were zeroed because an end-of-round commit broke
# module import (a NameError inside a module-level oracle f-string): the
# driver's correctness gate, the bench, and pytest all die at import/
# collection, so an entire round of green work scores zero. This gate is
# cheap (~10s) and catches exactly that class: the full registry must
# import, every oracle must render, and pytest must collect.
#
# Installed as .git/hooks/pre-commit (see scripts/install_hooks.sh); also
# runnable by hand. A failing gate means the commit would be invisible to
# the driver — fix before committing, never --no-verify.
set -e
cd "$(git rev-parse --show-toplevel)"
python - <<'EOF'
import warnings
from distributed_query_engine_spark import registry

qs = registry.all_queries()
with warnings.catch_warnings():
    warnings.simplefilter("error")  # a non-rendering oracle fails the gate
    os_ = registry.all_oracles()
assert len(qs) >= 300, f"registry shrank: {len(qs)} queries"
assert len(os_) >= 300, f"oracles shrank: {len(os_)}"
print(f"gate: import OK — {len(qs)} queries, {len(os_)} oracles")
EOF
python -m pytest tests/ -q --collect-only >/dev/null
echo "gate: pytest collection OK"
