"""The benchmark's own ruleset and pipeline settings.

Shape of the full-stack ruleset: entity extraction, a HasLabel read, a
label write, cross-turn verdict tracking, plus one rule on the
Arrow-backed ``StringExtractDomains`` so every batch crosses the
JVM/Python boundary.
"""

from __future__ import annotations

RULES = {
    "main.sml": """
ConvId: Entity[str] = EntityJson(type='Conversation', path='$.conv_id')
Role: str = JsonData(path='$.role')
Text: str = JsonData(path='$.text')
Tool: str = JsonData(path='$.tool')
AlreadyFlagged = HasLabel(entity=ConvId, label='flagged')
Domains = StringExtractDomains(s=Text)
SaysHello = Rule(
  when_all=[TextContains(text=Text, phrase='hello')],
  description='turn contains hello',
)
HasEmail = Rule(
  when_all=[RegexMatch(target=Text, pattern='[a-z0-9.]+@[a-z0-9.]+')],
  description='turn contains an email address',
)
SharesLink = Rule(
  when_all=[ListLength(list=Domains) > 0],
  description='turn links to a web domain',
)
RepeatOffender = Rule(
  when_all=[SaysHello, AlreadyFlagged],
  description='hello from an already-flagged conversation',
)
WhenRules(
  rules_any=[SaysHello, HasEmail],
  then=[DeclareVerdict(verdict='flag_turn'), LabelAdd(entity=ConvId, label='flagged')],
)
WhenRules(
  rules_any=[SharesLink],
  then=[DeclareVerdict(verdict='link')],
)
WhenRules(
  rules_any=[RepeatOffender],
  then=[DeclareVerdict(verdict='repeat_offender')],
)
"""
}

RULE_COLUMNS = ["SaysHello", "HasEmail", "SharesLink", "RepeatOffender"]

# The engine's default maintenance cadence: expire snapshots on every
# 16th batch (keep 8 manifests), compact a label bucket past 8 delta
# files. The drain runs one file per trigger, enough batches for both.
PIPELINE_KWARGS = dict(track_verdict_state=True)

# ordered tool sequence for the CEP operator (search -> code_exec -> send_email)
CEP_TOOLS = ["search", "code_exec", "send_email"]
ESCALATION_GAP_S = 1800
ESCALATION_MIN_TRIGGERS = 2
