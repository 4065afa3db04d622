"""Seeded benchmark of the tmframe_spark engine; see NOTES.md."""
