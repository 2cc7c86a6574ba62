"""Operator layer: analytical query shapes (SURVEY.md §2.3-2.8),
recursive chain (§2.3 J5), window ops (§2.5), and the LLM-pipeline
extension operators (text / corpus)."""
