"""CI/hook artifact generation + PR-comment formatting.

Reference surface: `blq ci generate` emits standalone shell scripts for
registered commands (src/blq/commands/ci_cmd.py:703-780 +
hooks_gen.py:73-115 templates), `blq ci comment` formats the
fingerprint diff as GitHub-flavored markdown (ci_cmd.py:192-258), and
hooks_gen writes git pre-commit hooks. Pure driver-side templating —
the only Spark work is the diff aggregation it formats.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from blq_cli_spark.operators import views
from blq_cli_spark.sources.store import LogStore

_SCRIPT_TEMPLATE = """#!/usr/bin/env bash
# Generated by blq-spark ci generate — standalone runner for '{name}'.
# Runs the registered command and exits with its status; capture the
# combined output to a file a later `blq-spark import` can ingest.
set -uo pipefail

LOG_DIR="${{BLQ_CI_LOG_DIR:-.blq-ci-logs}}"
mkdir -p "$LOG_DIR"
LOG_FILE="$LOG_DIR/{name}.log"

{cmd} 2>&1 | tee "$LOG_FILE"
STATUS=${{PIPESTATUS[0]}}

echo "# exit=$STATUS log=$LOG_FILE" >&2
exit "$STATUS"
"""


def generate_ci_script(name: str, spec: dict) -> str:
    """Standalone bash runner for one registered command (no blq-spark
    needed on the CI box; the log file round-trips via `import`)."""
    argv = spec["argv"]
    cmd = " ".join(_shquote(a) for a in argv)
    return _SCRIPT_TEMPLATE.format(name=name, cmd=cmd)


def _shquote(s: str) -> str:
    import shlex

    return shlex.quote(s)


HOOK_MARKER = "# blq-spark-managed-hook"


def generate_git_hook(names: list[str]) -> str:
    """pre-commit hook running the named registered commands through
    blq-spark run (reference hooks_gen.py:115+). Carries HOOK_MARKER so
    install/uninstall only ever touch hooks we own."""
    lines = [
        "#!/usr/bin/env bash",
        HOOK_MARKER,
        "# Generated by blq-spark — pre-commit hook",
        "set -e",
    ]
    for n in names:
        lines.append(f"blq-spark run --source {_shquote(n)} -- {_shquote(n)}")
    return "\n".join(lines) + "\n"


# --- hook installation (reference hooks_cmd.py:111-530) ----------------------


def _git_hooks_dir(repo_dir: str) -> str:
    """Resolve <repo>/.git/hooks, following a worktree/submodule gitfile
    (`gitdir: path`) indirection. Raises ValueError outside a git repo."""
    import os

    dotgit = os.path.join(repo_dir, ".git")
    if os.path.isdir(dotgit):
        return os.path.join(dotgit, "hooks")
    if os.path.isfile(dotgit):
        with open(dotgit) as fh:
            first = fh.readline().strip()
        if first.startswith("gitdir:"):
            gd = first.split(":", 1)[1].strip()
            if not os.path.isabs(gd):
                gd = os.path.join(repo_dir, gd)
            return os.path.join(gd, "hooks")
    raise ValueError(f"not a git repository: {repo_dir}")


def is_managed_hook(path: str) -> bool:
    import os

    if not os.path.exists(path):
        return False
    try:
        with open(path) as fh:
            return HOOK_MARKER in fh.read()
    except OSError:
        return False


def install_git_hook(
    store: LogStore,
    repo_dir: str,
    names: list[str],
    hook_name: str = "pre-commit",
    force: bool = False,
) -> str:
    """Install the generated hook into <repo>/.git/hooks/<hook_name>.
    Refuses to touch a hook we didn't write unless force=True
    (reference _install_git_hook, hooks_cmd.py:170-240)."""
    import os

    from blq_cli_spark.sources import store as store_mod

    registered = store_mod.registered_commands(store)
    missing = [n for n in names if n not in registered]
    if missing:
        raise ValueError(f"commands not registered: {', '.join(missing)}")
    if not names:
        raise ValueError("no commands specified")
    hooks_dir = _git_hooks_dir(repo_dir)
    os.makedirs(hooks_dir, exist_ok=True)
    path = os.path.join(hooks_dir, hook_name)
    if os.path.exists(path) and not force:
        if is_managed_hook(path):
            raise ValueError(
                f"{hook_name} hook already installed; use force to reinstall"
            )
        raise ValueError(
            f"{hook_name} hook exists but was not created by blq-spark; "
            "use force to overwrite"
        )
    with open(path, "w") as fh:
        fh.write(generate_git_hook(names))
    os.chmod(path, 0o755)
    return path


def uninstall_git_hook(repo_dir: str, hook_name: str = "pre-commit") -> bool:
    """Remove a managed hook; False if none installed. Refuses to delete
    a hook we didn't write (reference _uninstall_git_hook)."""
    import os

    path = os.path.join(_git_hooks_dir(repo_dir), hook_name)
    if not os.path.exists(path):
        return False
    if not is_managed_hook(path):
        raise ValueError(
            f"{hook_name} hook was not created by blq-spark; remove manually: {path}"
        )
    os.unlink(path)
    return True


def hooks_status(
    store: LogStore,
    repo_dir: str,
    hook_names: tuple[str, ...] = ("pre-commit", "pre-push"),
) -> dict:
    """Per-hook install state + the registered commands available to
    wire (reference cmd_hooks_status, hooks_cmd.py:436-530)."""
    import os

    from blq_cli_spark.sources import store as store_mod

    try:
        hooks_dir = _git_hooks_dir(repo_dir)
    except ValueError:
        hooks_dir = None
    hooks: dict[str, str] = {}
    for name in hook_names:
        if hooks_dir is None:
            hooks[name] = "no-git-repo"
            continue
        path = os.path.join(hooks_dir, name)
        if not os.path.exists(path):
            hooks[name] = "absent"
        elif is_managed_hook(path):
            hooks[name] = "installed"
        else:
            hooks[name] = "unmanaged"
    return {
        "hooks": hooks,
        "registered_commands": sorted(store_mod.registered_commands(store)),
    }


def generate_github_workflow(commands: dict[str, dict]) -> str:
    """A GitHub Actions workflow snippet: one step per registered
    command via the generated standalone scripts, plus a ci-check gate."""
    steps = []
    for name in sorted(commands):
        steps.append(
            f"""      - name: Run {name}
        run: ./ci/{name}.sh"""
        )
    body = "\n".join(steps)
    return f"""name: blq-ci
on: [push, pull_request]
jobs:
  build-log-check:
    runs-on: ubuntu-latest
    steps:
      - uses: actions/checkout@v4
{body}
      - name: Gate on new diagnostics
        run: blq-spark ci --branch main
"""


def generate_gitlab_ci(commands: dict[str, dict]) -> str:
    """GitLab CI include file: one job per registered command (reference
    templates/gitlab_ci.yml.j2). Include from .gitlab-ci.yml via
    `include: - local: '.gitlab-ci.blq.yml'`."""
    jobs = []
    for name in sorted(commands):
        jobs.append(f"""blq-{name}:
  script:
    - ./ci/{name}.sh""")
    body = "\n\n".join(jobs)
    return f"""# Generated by blq-spark; regenerate with: blq-spark ci generate --gitlab
#
# Include in .gitlab-ci.yml:
#   include:
#     - local: '.gitlab-ci.blq.yml'

{body}
"""


def generate_drone_pipeline(commands: dict[str, dict]) -> str:
    """Drone CI pipeline: one step per registered command (reference
    templates/drone.yml.j2)."""
    steps = []
    for name in sorted(commands):
        steps.append(f"""  - name: {name}
    image: alpine
    commands:
      - ./ci/{name}.sh""")
    body = "\n".join(steps)
    return f"""# Generated by blq-spark; regenerate with: blq-spark ci generate --drone
kind: pipeline
type: docker
name: blq-checks

steps:
{body}
"""


def format_pr_comment(
    store: LogStore,
    baseline: int,
    candidate: int,
    limit: int = 20,
    include_fixed: bool = True,
) -> str:
    """GitHub-flavored markdown PR comment from the fingerprint diff
    (reference _format_pr_comment, ci_cmd.py:192-258). The diff and the
    per-fingerprint detail lookups stay distributed; only the limited
    row sets are collected."""
    flat = store.events_flat()
    d = views.diff_fingerprints(flat, baseline, candidate)

    def detail(change: str, serial: int) -> list[dict]:
        fps = d.filter(F.col("change") == change).select("fingerprint")
        return [
            r.asDict()
            for r in flat.filter(
                (F.col("run_serial") == serial) & (F.col("severity") == "error")
            )
            .join(F.broadcast(fps), "fingerprint", "left_semi")
            .select("ref_file", "ref_line", "message")
            .orderBy("ref_file", "ref_line")
            .limit(limit + 1)
            .collect()
        ]

    new_rows = detail("new", candidate)
    fixed_rows = detail("fixed", baseline) if include_fixed else []
    cur_errors = flat.filter(
        (F.col("run_serial") == candidate) & (F.col("severity") == "error")
    ).count()
    base_errors = flat.filter(
        (F.col("run_serial") == baseline) & (F.col("severity") == "error")
    ).count()

    def loc(e: dict) -> str:
        if not e.get("ref_file"):
            return "?"
        return (
            f"{e['ref_file']}:{e['ref_line']}" if e.get("ref_line") else str(e["ref_file"])
        )

    lines = ["## Build Log Analysis", ""]
    lines += ["| Metric | Value |", "|--------|-------|"]
    lines.append(f"| Baseline run | #{baseline} |")
    lines.append(f"| Baseline errors | {base_errors} |")
    lines.append(f"| Current run | #{candidate} |")
    lines.append(f"| Current errors | {cur_errors} |")
    lines.append(f"| Fixed | {len(fixed_rows[:limit])} |")
    lines.append(f"| New | {len(new_rows[:limit])} |")
    lines.append("")
    if new_rows:
        lines += ["### New Errors", ""]
        for e in new_rows[:limit]:
            lines.append(f"- `{loc(e)}` - {(e.get('message') or '')[:100]}")
        if len(new_rows) > limit:
            lines.append("- ... and more")
        lines.append("")
    if fixed_rows:
        lines += ["<details>", f"<summary>Fixed Errors ({len(fixed_rows[:limit])})</summary>", ""]
        for e in fixed_rows[:limit]:
            lines.append(f"- `{loc(e)}` - {(e.get('message') or '')[:100]}")
        lines += ["", "</details>", ""]
    if new_rows:
        lines.append("**Status:** :x: New errors introduced")
    elif cur_errors == 0:
        lines.append("**Status:** :white_check_mark: No errors")
    else:
        lines.append("**Status:** :white_check_mark: No new errors")
    return "\n".join(lines)


# --- agent (Claude Code) hooks ----------------------------------------------
# Reference: hooks_cmd.py:569-700 (CLAUDE_SUGGEST_HOOK / RECORD_PRE / RECORD_
# POST) + _install_claude_code_hooks :700-830. Scripts adapted to this CLI's
# verbs (`commands suggest --json`, `record attempt|outcome`) and store dir.

AGENT_SUGGEST_HOOK = f"""#!/bin/bash
{HOOK_MARKER}
# PostToolUse(Bash) hook: suggest the registered-command / MCP route when
# the agent shells out a command blq-spark already tracks.
set -e
INPUT=$(cat)
COMMAND=$(echo "$INPUT" | jq -r '.tool_input.command // empty')
[[ -z "$COMMAND" ]] && exit 0
command -v blq-spark >/dev/null 2>&1 || exit 0
[[ ! -d "${{BLQ_SPARK_STORE:-.bird-spark}}" ]] && exit 0
SUGGESTION=$(blq-spark commands suggest "$COMMAND" --json 2>/dev/null || true)
[[ -z "$SUGGESTION" ]] && exit 0
NAME=$(echo "$SUGGESTION" | jq -r '.name // empty')
[[ -z "$NAME" ]] && exit 0
jq -n --arg name "$NAME" '{{
  hookSpecificOutput: {{
    hookEventName: "PostToolUse",
    additionalContext: ("Tip: this command is registered as \\"" + $name
      + "\\" - run it with `blq-spark run " + $name
      + "` (or the MCP run tool) to capture and parse its output.")
  }}
}}'
exit 0
"""

AGENT_RECORD_PRE_HOOK = f"""#!/bin/bash
{HOOK_MARKER}
# PreToolUse(Bash) hook: record the attempt before the command runs.
set -e
INPUT=$(cat)
COMMAND=$(echo "$INPUT" | jq -r '.tool_input.command // empty')
[[ -z "$COMMAND" ]] && exit 0
command -v blq-spark >/dev/null 2>&1 || exit 0
STORE="${{BLQ_SPARK_STORE:-.bird-spark}}"
[[ ! -d "$STORE" ]] && exit 0
RESULT=$(blq-spark record attempt --command "$COMMAND" --json 2>/dev/null || true)
[[ -z "$RESULT" ]] && exit 0
ATTEMPT_ID=$(echo "$RESULT" | jq -r '.attempt_id // empty')
[[ -z "$ATTEMPT_ID" ]] && exit 0
PENDING_DIR="$STORE/hooks/pending"
mkdir -p "$PENDING_DIR"
CMD_HASH=$(echo -n "$COMMAND" | sha256sum | cut -c1-16)
echo "$ATTEMPT_ID" > "$PENDING_DIR/$CMD_HASH"
exit 0
"""

AGENT_RECORD_POST_HOOK = f"""#!/bin/bash
{HOOK_MARKER}
# PostToolUse(Bash) hook: complete the attempt with the outcome, parsing
# the captured output into stored events.
set -e
INPUT=$(cat)
COMMAND=$(echo "$INPUT" | jq -r '.tool_input.command // empty')
# field name varies across agent runtime versions: prefer tool_response,
# fall back to the older tool_result spelling
EXIT_CODE=$(echo "$INPUT" | jq -r '.tool_response.exitCode // .tool_result.exitCode // 0')
STDOUT=$(echo "$INPUT" | jq -r '.tool_response.stdout // .tool_result.stdout // empty')
[[ -z "$COMMAND" ]] && exit 0
command -v blq-spark >/dev/null 2>&1 || exit 0
STORE="${{BLQ_SPARK_STORE:-.bird-spark}}"
[[ ! -d "$STORE" ]] && exit 0
PENDING_DIR="$STORE/hooks/pending"
CMD_HASH=$(echo -n "$COMMAND" | sha256sum | cut -c1-16)
ATTEMPT_FILE="$PENDING_DIR/$CMD_HASH"
if [[ -f "$ATTEMPT_FILE" ]]; then
    ATTEMPT_ID=$(cat "$ATTEMPT_FILE"); rm -f "$ATTEMPT_FILE"
    RESULT=$(echo "$STDOUT" | blq-spark record outcome \\
        --attempt "$ATTEMPT_ID" --exit "$EXIT_CODE" --parse --json \\
        2>/dev/null || true)
else
    RESULT=$(echo "$STDOUT" | blq-spark record outcome \\
        --command "$COMMAND" --exit "$EXIT_CODE" --parse --json \\
        2>/dev/null || true)
fi
[[ -z "$RESULT" ]] && exit 0
ERRORS=$(echo "$RESULT" | jq -r '.events.errors // 0')
WARNINGS=$(echo "$RESULT" | jq -r '.events.warnings // 0')
if [[ "$ERRORS" -gt 0 || "$WARNINGS" -gt 0 ]]; then
    jq -n --arg s "blq-spark: recorded $ERRORS errors, $WARNINGS warnings" \\
        '{{hookSpecificOutput: {{hookEventName: "PostToolUse", additionalContext: $s}}}}'
fi
exit 0
"""

_AGENT_HOOKS = {
    "suggest": ("blq-suggest.sh", AGENT_SUGGEST_HOOK, "PostToolUse"),
    "record-pre": ("blq-record-pre.sh", AGENT_RECORD_PRE_HOOK, "PreToolUse"),
    "record-post": ("blq-record-post.sh", AGENT_RECORD_POST_HOOK, "PostToolUse"),
}


def _ours(entry: dict) -> bool:
    return any(
        h.get("command", "").endswith(name)
        for name, _, _ in _AGENT_HOOKS.values()
        for h in entry.get("hooks", [])
    )


def install_agent_hooks(
    repo_dir: str = ".",
    record: bool = False,
    force: bool = False,
    settings_dir: str = ".claude",
) -> list[str]:
    """Install agent-integration hooks (reference `blq hooks install
    claude-code`): writes marker-tagged shell scripts under
    <settings_dir>/hooks/ and registers them in <settings_dir>/
    settings.json, merging idempotently — entries we did not write are
    never touched, re-install without force keeps existing scripts.
    `record=False` installs the suggest hook; `record=True` adds the
    attempt/outcome pair for passive command tracking."""
    import json
    import os

    base = os.path.join(repo_dir, settings_dir)
    hooks_dir = os.path.join(base, "hooks")
    os.makedirs(hooks_dir, exist_ok=True)
    settings_path = os.path.join(base, "settings.json")
    settings = {}
    if os.path.exists(settings_path):
        try:
            with open(settings_path) as fh:
                settings = json.load(fh)
        except ValueError:
            settings = {}
    settings.setdefault("hooks", {})

    wanted = ["suggest"] + (["record-pre", "record-post"] if record else [])
    installed: list[str] = []
    for key in wanted:
        fname, content, event = _AGENT_HOOKS[key]
        path = os.path.join(hooks_dir, fname)
        if not os.path.exists(path) or force:
            with open(path, "w") as fh:
                fh.write(content)
            os.chmod(path, 0o755)
            installed.append(fname)
        event_hooks = settings["hooks"].setdefault(event, [])
        already = any(
            h.get("command", "").endswith(fname)
            for e in event_hooks
            for h in e.get("hooks", [])
        )
        if not already:
            event_hooks.append(
                {
                    "matcher": "Bash",
                    "hooks": [
                        {"type": "command",
                         "command": os.path.join(settings_dir, "hooks", fname)}
                    ],
                }
            )
    with open(settings_path, "w") as fh:
        json.dump(settings, fh, indent=2)
    return installed


def uninstall_agent_hooks(repo_dir: str = ".", settings_dir: str = ".claude") -> int:
    """Remove OUR agent hooks (marker-checked scripts + our settings
    entries); foreign hooks/entries stay. Returns count removed."""
    import json
    import os

    base = os.path.join(repo_dir, settings_dir)
    hooks_dir = os.path.join(base, "hooks")
    removed = 0
    for fname, _, _ in _AGENT_HOOKS.values():
        path = os.path.join(hooks_dir, fname)
        if os.path.exists(path):
            with open(path) as fh:
                if HOOK_MARKER in fh.read():
                    os.unlink(path)
                    removed += 1
    settings_path = os.path.join(base, "settings.json")
    if os.path.exists(settings_path):
        try:
            with open(settings_path) as fh:
                settings = json.load(fh)
        except ValueError:
            return removed
        hooks = settings.get("hooks", {})
        for event, entries in list(hooks.items()):
            hooks[event] = [e for e in entries if not _ours(e)]
        with open(settings_path, "w") as fh:
            json.dump(settings, fh, indent=2)
    return removed
