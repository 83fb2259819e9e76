"""Seeded end-to-end benchmark of the IOS conversion engine (see NOTES.md)."""
